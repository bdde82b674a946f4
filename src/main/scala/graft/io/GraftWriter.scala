package graft.io

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.log.{AddFile, CommitLog, RemoveFile}

/** Write modes — the reference's `WriteMode` enum plus merge handled by
  * [[graft.merge.MergeExecutor]], which lowers onto the one merge engine
  * [[graft.merge.MergeClausesExecutor]] (reference: dagster_delta/io_manager.py:48-56; dispatch
  * handler.py:206-235).
  */
sealed trait WriteMode { def name: String }
object WriteMode {
  case object ErrorIfExists extends WriteMode { val name = "error" }
  case object Append extends WriteMode { val name = "append" }
  case object Overwrite extends WriteMode { val name = "overwrite" }
  case object Ignore extends WriteMode { val name = "ignore" }
  case object CreateOrReplace extends WriteMode { val name = "create_or_replace" }
}

/** Schema evolution modes (reference: dagster_delta/io_manager.py:59-63,
  * 144-147): `Merge` unions the incoming schema with the existing one;
  * `Overwrite` replaces it.
  */
sealed trait SchemaMode
object SchemaMode {
  case object Merge extends SchemaMode
  case object Overwrite extends SchemaMode
}

final case class WriteOptions(
    mode: WriteMode = WriteMode.Append,
    partitionBy: Seq[String] = Nil,
    /** Partition-scoped overwrite predicate — the Delta `replaceWhere`
      * pattern (reference: dagster_delta/handler.py:190-225), decided per
      * partition on the driver by [[PartitionPredicate]] (a NULL
      * partition matches `isNull`). Only valid with `Overwrite`.
      */
    replaceWhere: Option[Column] = None,
    schemaMode: Option[SchemaMode] = None,
    /** Custom commit metadata (reference: handler.py:164,222). */
    metadata: Map[String, String] = Map.empty,
    /** Parquet codec (reference writer_properties ZSTD:
      * dagster_delta_tests/test_metadata_inputs.py:65).
      */
    compression: String = "zstd",
    /** Dynamic partition overwrite (Spark's
      * `partitionOverwriteMode=dynamic` / Hive `INSERT OVERWRITE`
      * semantics): replace exactly the partitions the incoming rows land
      * in, leave every other partition untouched. Only valid with
      * `Overwrite` and no `replaceWhere`. The removal set is derived from
      * the written files' partition values — pure commit-log metadata, no
      * extra data scan, so a 3-partition refresh of a 100k-partition
      * table removes 3 partitions' files and nothing else.
      */
    dynamicPartitionOverwrite: Boolean = false,
    /** Shuffle rows to their partition before writing so each partition
      * gets O(1) files instead of (#tasks × #partitions) — the
      * anti-small-files move that matters at 100 TB.
      */
    clusterByPartition: Boolean = true,
    /** Cap rows per output file (Spark's maxRecordsPerFile); 0 = no cap.
      * The anti-HUGE-files bound: with clusterByPartition a partition's
      * data lands in one task, and this splits that task's output into
      * scan-parallelizable files.
      */
    maxRecordsPerFile: Long = 0L,
    /** CAS the commit on exactly this snapshot version even for Append —
      * for callers whose commit CONTENT was derived from that snapshot's
      * log state (e.g. COPY INTO's ingested-identity dedup, where a
      * concurrent ingest reading the same seen-set would double-ingest).
      * On conflict the staged files are deleted and the
      * ConcurrentModificationException propagates so the CALLER re-derives
      * against the fresh log and retries; the writer's internal rebase
      * cannot re-derive caller state.
      */
    casOnVersion: Option[Long] = None,
    /** Idempotent-writer transaction (Delta's `txnAppId`/`txnVersion`):
      * the write applies only if the table has not yet recorded a
      * transaction at-or-above `txnVersion` for this application id —
      * otherwise it is a clean no-op at the current version. The check
      * runs inside [[graft.log.CommitLog.commit]] atomically with the
      * version claim and the `graft.txn.<appId>` marker merges into the
      * same commit, so a crashed writer replaying its last batch (the
      * foreachBatch exactly-once pattern) can never double-append, even
      * racing another instance of itself — while UNRELATED concurrent
      * commits (other appIds, maintenance) keep commuting like any
      * blind append, no spurious conflicts. The carried-property marker
      * survives checkpoints and log retention by construction. Each
      * appId is an independent namespace: two streams writing one
      * table use two appIds. Both fields set together or neither.
      */
    txnAppId: Option[String] = None,
    txnVersion: Option[Long] = None)

/** Transactional writer over [[graft.log.CommitLog]].
  *
  * Physical layout: parquet files (hive-partitioned dirs) under the table
  * root; files are staged under `_staging-*` and renamed into place, then a
  * single commit publishes add/remove actions atomically. Data files are
  * never physically deleted (time travel reads old versions); a vacuum can
  * reclaim them later.
  */
object GraftWriter {

  def write(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      opts: WriteOptions = WriteOptions()): Long = {
    require(opts.txnAppId.isDefined == opts.txnVersion.isDefined,
      "txnAppId and txnVersion must be set together")
    // cheap fast path for the common replay: no-op BEFORE staging any
    // data. The authoritative check runs again inside CommitLog.commit,
    // atomically with the version claim (see the `txn` param there) —
    // so a racer landing after this read can never let a double-apply
    // through; it only costs the loser its staged bytes.
    for (appId <- opts.txnAppId; ver <- opts.txnVersion) {
      val key = CommitLog.txnKey(appId) // validates appId non-empty
      val log = new CommitLog(path, spark.sessionState.newHadoopConf())
      if (log.tableExists() &&
          log.tableProperties().get(key).map(_.toLong).exists(_ >= ver))
        return log.latestVersion().get
    }
    writeAttempt(spark, df, path, opts, identityAttempt = 0)
  }

  private def writeAttempt(
      spark: SparkSession,
      dfIn: DataFrame,
      path: String,
      opts: WriteOptions,
      /** Bounded re-runs of identity-ASSIGNING writes whose CAS lost
        * (the staged bytes embed values allocated from a stale
        * high-water mark, so the whole assignment re-runs — the one
        * write shape that cannot reuse its staged files on conflict).
        */
      identityAttempt: Int): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new CommitLog(path, conf)
    val fs = new Path(path).getFileSystem(conf)
    val exists = log.tableExists()

    opts.mode match {
      case WriteMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case WriteMode.Ignore if exists =>
        return log.latestVersion().get // no-op, version unchanged
      case _ => ()
    }

    // Resolve schema (evolution rules) and partition columns.
    val snapOpt = if (exists) Some(log.snapshot()) else None

    // Generated / identity columns: effective declarations = the
    // snapshot's carried-forward properties (read from the SNAPSHOT
    // commit, so the high-water mark is pinned to its version) plus any
    // newly supplied reserved metadata.
    val declProps: Map[String, String] = {
      val existing = snapOpt.map(_.commits.last.metadata.filter {
        case (k, _) => k.startsWith(graft.log.CommitLog.ReservedPrefix)
      }).getOrElse(Map.empty)
      val supplied = opts.metadata.filter { case (k, v) =>
        k.startsWith(graft.log.CommitLog.ReservedPrefix) && v.nonEmpty
      }
      // Delta parity: generated/identity columns are declared at table
      // CREATION only — declaring one over existing rows would leave
      // them without values the invariant claims always hold. A PARTIAL
      // overwrite (replaceWhere / dynamic partitions) keeps rows too,
      // so only a FULL overwrite counts as re-creation.
      val fullReplace =
        opts.mode == WriteMode.CreateOrReplace ||
          (opts.mode == WriteMode.Overwrite && opts.replaceWhere.isEmpty &&
            !opts.dynamicPartitionOverwrite)
      if (snapOpt.exists(_.files.nonEmpty) && !fullReplace) {
        val late = supplied.keys.filter(k =>
          (k.startsWith(Generated.Prefix) ||
            k.startsWith(Generated.IdentityPrefix)) && !existing.contains(k))
        require(late.isEmpty,
          s"generated/identity declarations (${late.mkString(", ")}) can only " +
            "be added at table creation or on a full overwrite — existing " +
            "rows would not satisfy them")
      }
      existing ++ supplied
    }
    // row tracking reserves its column names — user data under them
    // would be mistaken for materialized ids at read time
    if (RowTracking.enabled(declProps))
      dfIn.columns.foreach(c => require(
        !RowTracking.ReservedCols.exists(_.equalsIgnoreCase(c)),
        s"column name $c is reserved by row tracking"))
    // defaults FIRST (a generating expression may reference a defaulted
    // base column), then generated fill, then identity assignment
    val dfDef = Generated.fillDefaults(dfIn, snapOpt.map(_.schema), declProps)
    val dfGen = Generated.fillGenerated(
      spark, dfDef, snapOpt.map(_.schema), declProps)
    val (df, identityAssigned) = Generated.assignIdentity(dfGen, declProps)

    val partitionCols: Seq[String] = snapOpt match {
      case Some(s)
          if opts.mode == WriteMode.Append || opts.mode == WriteMode.Overwrite =>
        if (opts.partitionBy.nonEmpty && opts.partitionBy != s.partitionColumns)
          throw new IllegalArgumentException(
            s"partitionBy ${opts.partitionBy} != table partitioning ${s.partitionColumns}")
        s.partitionColumns
      case _ => opts.partitionBy
    }
    // Identity columns cannot be partition columns: hive-style layout
    // drops them from the data pages, so written files carry no footer
    // stats for them and the high-water mark could never advance — the
    // next assigning write would silently reallocate duplicate values.
    {
      val idPart = partitionCols.filter(p =>
        Generated.identityOf(declProps).keySet.exists(_.equalsIgnoreCase(p)))
      require(idPart.isEmpty,
        s"identity columns (${idPart.mkString(", ")}) cannot be partition " +
          "columns — partition values are dropped from data pages, so the " +
          "identity high-water mark cannot advance from footer stats")
    }
    val newSchema: StructType = snapOpt match {
      case Some(s)
          if opts.mode == WriteMode.Append || opts.mode == WriteMode.Overwrite =>
        (opts.schemaMode, opts.mode) match {
          case (Some(SchemaMode.Overwrite), _) => uniqueIgnoringCase(df.schema)
          case (Some(SchemaMode.Merge), _)     => mergeSchemas(s.schema, df.schema)
          case (None, _) =>
            requireCompatible(s.schema, df.schema, path); s.schema
        }
      case _ => uniqueIgnoringCase(df.schema) // fresh table or create_or_replace
    }

    if (opts.dynamicPartitionOverwrite) {
      require(opts.mode == WriteMode.Overwrite,
        s"dynamicPartitionOverwrite requires Overwrite mode, got ${opts.mode.name}")
      require(opts.replaceWhere.isEmpty,
        "dynamicPartitionOverwrite and replaceWhere are mutually exclusive")
    }

    // replaceWhere: removals from partition values, derived before the
    // write so a predicate with no per-partition answer fails before
    // anything is staged; the write itself checks that every incoming
    // row satisfies it.
    val overwriteWhere = opts.replaceWhere.filter(_ => opts.mode == WriteMode.Overwrite)
    val replaced = for {
      pred <- overwriteWhere
      snap <- snapOpt // replaceWhere on a fresh table = plain create
    } yield replaceWhereRemovals(spark, snap, pred)

    // Physical write to staging, then rename into place.
    val writeDf =
      if (partitionCols.nonEmpty && opts.clusterByPartition)
        df.repartition(partitionCols.map(col): _*)
      else df
    // declProps, not tableProperties(): a CREATING write's declarations
    // (constraints, generated columns) hold for the very rows that
    // create the table, and the pre-commit log has none yet. Only
    // generated columns the CALLER supplied are checked — the ones
    // fillGenerated computed satisfy their expressions by construction.
    // declProps already holds the snapshot's properties, so it is also
    // the property map the staging reads (bloom columns, column mapping,
    // stats cap) — for a creating write, the declarations alone.
    val added =
      stageAndPromote(spark, fs, conf,
        Invariants.guard(writeDf, newSchema, Invariants.violation(
          declProps, newSchema, overwriteWhere, Some(dfIn.columns.toSet))),
        path, partitionCols, opts.compression, declProps, snapOpt,
        opts.maxRecordsPerFile)

    // The removal set a snapshot implies: the replaceWhere partitions;
    // under dynamic partition overwrite exactly the live files in the
    // partitions the new files landed in (metadata-only set
    // intersection; an unpartitioned table degenerates to a full
    // overwrite, matching Spark's own semantics); every file for a
    // plain overwrite or a replace.
    def removalsFrom(s: graft.log.Snapshot): Seq[RemoveFile] =
      (opts.mode, opts.replaceWhere) match {
        case (WriteMode.Overwrite, Some(pred)) => replaceWhereRemovals(spark, s, pred)
        case (WriteMode.Overwrite, None) if opts.dynamicPartitionOverwrite =>
          val touched = added.map(_.partitionValues).toSet
          s.files.filter(f => touched(f.partitionValues)).map(f => RemoveFile(f.path))
        case (WriteMode.Overwrite, None) | (WriteMode.CreateOrReplace, _) =>
          s.files.map(f => RemoveFile(f.path))
        case _ => Nil
      }
    val removals0 = replaced.getOrElse(snapOpt.map(removalsFrom).getOrElse(Nil))

    // Commit with bounded retry: on a concurrent-commit conflict the
    // staged files stay valid — only the log actions (removals, evolved
    // schema) are re-derived against the fresh snapshot. Last writer
    // wins, like Delta's conflict resolution for non-overlapping txns.
    // Removal sets are DERIVED from a snapshot, so overwrite-family
    // commits are compare-and-swapped on that snapshot's version — a
    // commit slipping in between forces re-derivation instead of being
    // silently dropped. Blind appends commute: no CAS, no spurious retry.
    val casModes: Set[WriteMode] =
      Set(WriteMode.Overwrite, WriteMode.CreateOrReplace)
    var attempt = 0
    while (true) {
      // -1 = "expect an empty log" (a concurrent CREATE must conflict too)
      // identity-assigning writes CAS on the version their high-water
      // mark was read at — two concurrent assignments from the same mark
      // would allocate colliding values
      var expected: Option[Long] =
        opts.casOnVersion.orElse {
          if (casModes(opts.mode) || identityAssigned)
            Some(snapOpt.map(_.version).getOrElse(-1L))
          else None
        }
      val (schemaDdl, removals2) =
        if (attempt == 0) (newSchema.toDDL, removals0)
        else {
          val fresh = if (log.tableExists()) Some(log.snapshot()) else None
          if (casModes(opts.mode))
            expected = Some(fresh.map(_.version).getOrElse(-1L))
          fresh.foreach { s =>
            require(s.partitionColumns == partitionCols,
              s"concurrent writer changed partitioning to ${s.partitionColumns}")
          }
          val schema2 = fresh match {
            case Some(s) if opts.mode == WriteMode.Append || opts.mode == WriteMode.Overwrite =>
              opts.schemaMode match {
                case Some(SchemaMode.Overwrite) => df.schema
                case Some(SchemaMode.Merge)     => mergeSchemas(s.schema, df.schema)
                case None => requireCompatible(s.schema, df.schema, path); s.schema
              }
            case _ => df.schema
          }
          (schema2.toDDL, fresh.map(removalsFrom).getOrElse(Nil))
        }
      val metrics = Map(
        "num_added_files" -> added.size.toLong,
        "num_removed_files" -> removals2.size.toLong,
        "num_output_rows" -> added.map(_.numRecords).sum)
      try {
        val v = log.commit(
          operation = "WRITE",
          mode = opts.mode.name,
          schemaDdl = schemaDdl,
          partitionColumns = partitionCols,
          // advance identity high-water marks from the written files'
          // footer stats — a pure metadata read, no extra data pass
          metadata = opts.metadata ++
            Generated.hwmUpdates(added, declProps, writtenFallback = Some(df)),
          operationMetrics = metrics,
          add = added,
          remove = removals2,
          expectedVersion = expected,
          txn = opts.txnAppId.map(a => (a, opts.txnVersion.get)))
        maybeAutoCompact(spark, path, opts, added, declProps)
        return v
      } catch {
        case e: graft.log.TxnAlreadyApplied =>
          // a concurrent writer of the SAME appId landed this version
          // between our fast-path check and the commit: clean the
          // staged bytes and no-op at the table's current version
          added.foreach(f => fs.delete(new Path(path, f.path), false))
          return e.tableVersion
        case e: java.util.ConcurrentModificationException
            if opts.casOnVersion.isDefined =>
          // the caller pinned the version its state was read at; only
          // the caller can re-derive — clean the staging and propagate
          added.foreach(f => fs.delete(new Path(path, f.path), false))
          throw e
        case e: java.util.ConcurrentModificationException
            if identityAssigned =>
          // the staged bytes embed values from a now-stale high-water
          // mark: drop them and re-run the whole assignment (bounded)
          added.foreach(f => fs.delete(new Path(path, f.path), false))
          if (identityAttempt >= 5) throw e
          return writeAttempt(spark, dfIn, path, opts, identityAttempt + 1)
        case _: java.util.ConcurrentModificationException if attempt < 5 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Post-commit auto-compaction (Delta's `autoOptimize.autoCompact`):
    * `graft.autoCompact = true` makes every APPEND check its touched
    * partitions after committing and compact any whose live file count
    * reached `graft.autoCompact.minFiles` (default 8) — small files
    * from stream-ish appends never accumulate past the threshold.
    * Pure compaction (never the declared-clusterBy rewrite — that is
    * scheduled maintenance, not a per-write side effect), its own
    * commit AFTER the write's (the write's durability never depends on
    * it), and best-effort: a compaction failure logs and the write
    * still succeeds.
    */
  val AutoCompactKey: String =
    graft.log.CommitLog.ReservedPrefix + "autoCompact"
  val AutoCompactMinFilesKey: String =
    graft.log.CommitLog.ReservedPrefix + "autoCompact.minFiles"

  private def maybeAutoCompact(
      spark: SparkSession,
      path: String,
      opts: WriteOptions,
      added: Seq[AddFile],
      props: Map[String, String]): Unit = {
    if (opts.mode != WriteMode.Append) return
    maybeAutoCompactTouched(spark, path, added, props)
  }

  /** The write-mode-agnostic auto-compact body: merge/DML rewrites
    * ([[writeCow]]) also accumulate small files — a matview or ANN-index
    * refresh commits one merge per trigger, and without this the codes
    * table's file count grows per refresh forever (Delta's autoCompact
    * fires after MERGE for the same reason).
    */
  private def maybeAutoCompactTouched(
      spark: SparkSession,
      path: String,
      added: Seq[AddFile],
      props: Map[String, String]): Unit = {
    if (!props.get(AutoCompactKey).exists(_.equalsIgnoreCase("true"))) return
    val minFiles = props.get(AutoCompactMinFilesKey)
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 2).getOrElse(8)
    try {
      val log = new CommitLog(path, spark.sessionState.newHadoopConf())
      val snap = log.snapshot()
      if (snap.partitionColumns.isEmpty) {
        if (snap.files.size >= minFiles)
          retryDerived { optimizeOnce(spark, path, 4 * 1024 * 1024, None) }
      } else {
        val touched = added.map(_.partitionValues).toSet
        val hot = snap.files.groupBy(_.partitionValues)
          .collect { case (pv, fs) if touched(pv) && fs.size >= minFiles => pv }
          .toSet
        if (hot.nonEmpty)
          retryDerived {
            optimizeOnce(spark, path, 4 * 1024 * 1024, None, Some(hot))
          }
      }
    } catch {
      case scala.util.control.NonFatal(e) => // never fail the write
        System.err.println(s"graft auto-compact at $path failed " +
          s"(write already committed): ${e.getMessage}")
    }
  }

  /** Table property capping footer-stats collection to the first N data
    * columns (Delta's `dataSkippingNumIndexedCols`). Unset = stats for
    * every column. NOTE: an identity column past the cap loses its
    * zero-cost footer-stats high-water-mark advance and pays the
    * aggregate fallback per assigning write — keep identity columns
    * inside the indexed prefix.
    */
  val StatsIndexedColsKey: String =
    graft.log.CommitLog.ReservedPrefix + "dataSkippingNumIndexedCols"

  /** The capped stats column set (physical names): the first N DATA
    * columns in TABLE-SCHEMA order — not the write frame's order, which
    * varies per writer (omitted generated/default/identity columns are
    * appended last), and not counting partition columns, which never
    * carry footer stats and must not consume indexed slots. None = no
    * cap declared.
    */
  private def statsCapCols(
      props: Map[String, String],
      snapOpt: => Option[graft.log.Snapshot],
      /** Creating write: the frame IS the table order — LOGICAL names
        * (partition columns are logical; filtering must happen before
        * the physical mapping or mapped tables leak partition columns
        * into the indexed slots).
        */
      fallbackCols: => Seq[String],
      partitionCols: Seq[String]): Option[Set[String]] =
    props.get(StatsIndexedColsKey)
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ >= 0)
      .map { n =>
        val cols = snapOpt match {
          case Some(snap) =>
            val m = ColumnMapping.fromSnapshot(snap)
            snap.schema.fieldNames.toSeq
              .filterNot(partitionCols.contains)
              .map(c => ColumnMapping.physicalName(m, c))
          case None =>
            val m = ColumnMapping.fromProps(props)
            fallbackCols.filterNot(partitionCols.contains)
              .map(c => ColumnMapping.physicalName(m, c))
        }
        cols.take(n).toSet
      }

  /** Add a named CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT`):
    * verifies the EXISTING data satisfies it, then records it as a table
    * property in a metadata-only commit. Every subsequent write — append,
    * overwrite, merge, DML, streaming — checks it on the rows it writes
    * ([[Invariants]]).
    */
  def addCheckConstraint(
      spark: SparkSession, path: String, name: String, sqlExpr: String): Long = {
    require(name.matches("[A-Za-z0-9_-]+"), s"invalid constraint name '$name'")
    val log = new CommitLog(path, spark.sessionState.newHadoopConf())
    val table = new GraftTable(spark, path)
    // CAS on the validated snapshot + re-validate on conflict: a write
    // landing between validation and commit must not leave the table
    // with an active constraint its data already violates
    retryDerived {
      val snap = log.snapshot()
      val bad = table.dfForFiles(snap, snap.files)
        .filter(coalesce(!expr(sqlExpr), lit(false))).limit(1).count()
      require(bad == 0,
        s"cannot add CHECK constraint $name: existing rows violate ($sqlExpr)")
      log.commit(
        operation = "ADD CONSTRAINT", mode = "metadata",
        schemaDdl = snap.schema.toDDL, partitionColumns = snap.partitionColumns,
        metadata = Map(CommitLog.constraintKey(name) -> sqlExpr),
        operationMetrics = Map.empty, add = Nil, remove = Nil,
        expectedVersion = Some(snap.version))
    }
  }

  /** Drop a named CHECK constraint (empty property value = drop). */
  def dropCheckConstraint(spark: SparkSession, path: String, name: String): Long = {
    val log = new CommitLog(path, spark.sessionState.newHadoopConf())
    val snap = log.snapshot()
    require(Invariants.constraintsOf(log.tableProperties()).contains(name),
      s"no CHECK constraint named $name on $path")
    log.commit(
      operation = "DROP CONSTRAINT", mode = "metadata",
      schemaDdl = snap.schema.toDDL, partitionColumns = snap.partitionColumns,
      metadata = Map(CommitLog.constraintKey(name) -> ""),
      operationMetrics = Map.empty, add = Nil, remove = Nil)
  }

  /** Active CHECK constraints by name. */
  def checkConstraints(spark: SparkSession, path: String): Map[String, String] =
    Invariants.constraintsOf(new CommitLog(path, spark.sessionState.newHadoopConf())
      .tableProperties())

  /** Compact small files (Delta `OPTIMIZE`): rewrite every partition
    * holding more than one file into ~`maxRecordsPerFile`-row files, in
    * one commit that swaps adds for removes without changing table
    * contents. Readers are never blocked (old files stay until vacuum);
    * time travel to pre-compaction versions keeps working. Returns the
    * committed version (current version when nothing to compact).
    *
    * At scale, compaction is what keeps a streamed/merged table's file
    * count O(data/maxFileSize) instead of O(commits).
    */
  /** Declared clustering keys (the simplest liquid-clustering contract):
    * `graft.clusterBy = "a,b"` makes a PLAIN `OPTIMIZE` Z-order by those
    * keys instead of merely compacting — declare the layout once, every
    * maintenance pass maintains it. An explicit `ZORDER BY` clause
    * overrides per call.
    */
  val ClusterByKey: String = graft.log.CommitLog.ReservedPrefix + "clusterBy"

  private[graft] def clusterByOf(props: Map[String, String]): Seq[String] =
    props.get(ClusterByKey).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  /** Split DSv2 partitioning transforms into identity partition columns
    * and the `graft.clusterBy` declaration a `CLUSTER BY (a,b)` clause
    * arrives as — shared by the catalog createTable and the path-route
    * CREATE TABLE claim so the two routes cannot drift.
    */
  private[graft] def peelClusterTransform(
      partitions: Seq[org.apache.spark.sql.connector.expressions.Transform],
      what: String): (Seq[String], Map[String, String]) = {
    import org.apache.spark.sql.connector.expressions.ClusterByTransform
    val clusterKeys = partitions.collect {
      case ClusterByTransform(refs) => refs.map(_.fieldNames.mkString("."))
    }.flatten
    val partCols = partitions
      .filterNot(_.isInstanceOf[ClusterByTransform]).map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"$what supports identity partitioning only, got $other")
    }
    (partCols,
      if (clusterKeys.isEmpty) Map.empty
      else Map(ClusterByKey -> clusterKeys.mkString(",")))
  }

  /** Declaration-time check shared by every route that can set
    * `graft.clusterBy` (ALTER, CREATE TABLE ... CLUSTER BY on both the
    * path and catalog DDL routes): keys must be existing NON-partition
    * data columns — the partition layout already clusters its columns.
    */
  private[graft] def validateClusterBy(
      schema: org.apache.spark.sql.types.StructType,
      partitionCols: Seq[String],
      props: Map[String, String]): Unit =
    props.get(ClusterByKey).filter(_.nonEmpty).foreach { v =>
      v.split(',').map(_.trim).filter(_.nonEmpty).foreach { c =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
          s"clusterBy names unknown column $c")
        require(!partitionCols.exists(_.equalsIgnoreCase(c)),
          s"clusterBy key $c is a partition column (already clustered " +
            "by the directory layout)")
      }
    }

  def optimize(
      spark: SparkSession,
      path: String,
      maxRecordsPerFile: Long = 4 * 1024 * 1024,
      /** Partition-column predicate scoping the compaction (Delta's
        * `OPTIMIZE ... WHERE`) — at 100 TB you compact the day that
        * streamed in small files, never the whole table.
        */
      where: Option[Column] = None,
      /** clusterBy tables maintain their layout INCREMENTALLY by
        * default: only files not yet written under the declared layout
        * (plus the small-file tail and must-rewrite files) re-sort — a
        * routine maintenance pass is O(new data), not O(table).
        * `full = true` forces the whole eligible set through the sort
        * (Delta's `OPTIMIZE ... FULL`) — the reset that restores a
        * globally disjoint layout after many incremental passes.
        */
      full: Boolean = false): Long = {
    val declared = clusterByOf(
      new CommitLog(path, spark.sessionState.newHadoopConf()).tableProperties())
    declared match {
      case Nil =>
        // Delta parity: FULL is the incremental-vs-global knob of a
        // CLUSTERED table; on a plain table it would silently degrade
        // to ordinary small-file compaction — refuse instead
        require(!full,
          "OPTIMIZE ... FULL requires clustering keys (declare them " +
            "with CLUSTER BY / the graft.clusterBy property); plain " +
            "tables compact with OPTIMIZE")
        retryDerived { optimizeOnce(spark, path, maxRecordsPerFile, where) }
      case Seq(single) =>
        // one key: linear range-clustering beats a Morton curve
        optimizeCluster(spark, path, Seq(single), maxRecordsPerFile, where,
          incremental = !full)
      case many =>
        optimizeZOrder(spark, path, many, maxRecordsPerFile, where,
          incremental = !full)
    }
  }

  /** `REORG TABLE t [WHERE pred] APPLY (PURGE)` — rewrite ONLY the
    * files that carry deletion vectors, materializing the anti-filter
    * and dropping the DV. Unlike OPTIMIZE this never compacts: the
    * rewrite set is exactly the soft-deleted files, so the pass is
    * O(DV'd data) no matter how large the table — the precise
    * precursor to `ALTER TABLE ... DROP FEATURE deletionVectors`
    * (purge, then retention-age the old commits, then drop). A table
    * with no DVs (in scope) is a clean no-op at the current version.
    * Rewritten files on a clusterBy table lose their layout tag and
    * fold back in on the next incremental OPTIMIZE.
    */
  def reorgPurge(
      spark: SparkSession,
      path: String,
      where: Option[Column] = None,
      maxRecordsPerFile: Long = 4 * 1024 * 1024): Long = retryDerived {
    optimizeOnce(spark, path, maxRecordsPerFile, where, purgeOnly = true)
  }

  private def optimizeOnce(
      spark: SparkSession,
      path: String,
      maxRecordsPerFile: Long,
      where: Option[Column],
      /** Exact partition-value scope (auto-compaction's touched set) —
        * bypasses predicate compilation, membership on the log's own
        * partition-value maps.
        */
      onlyPartitions: Option[Set[Map[String, String]]] = None,
      /** Bin-packing floor: files AT or ABOVE this size are already
        * compacted and are left alone (Delta's `optimize.minFileSize`)
        * unless they carry a DV or an external ref, which OPTIMIZE must
        * rewrite regardless. At 100 TB this is the difference between
        * compacting the small-file tail and rewriting the whole table
        * every maintenance pass. Conf:
        * `spark.graft.optimize.minFileSizeBytes`; default 256 MiB.
        */
      minFileSizeBytes: Option[Long] = None,
      /** REORG ... APPLY (PURGE): candidates are exactly the DV'd
        * files in scope — no bin-packing, no compaction of plain files.
        */
      purgeOnly: Boolean = false): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new CommitLog(path, conf)
    val fs = new Path(path).getFileSystem(conf)
    val snap = log.snapshot()
    val sizeFloor = minFileSizeBytes.getOrElse(sizeFloorOf(spark))
    val eligible0 = scopedFiles(spark, snap, where)
    val eligible = onlyPartitions match {
      case Some(pvs) => eligible0.filter(f => pvs(f.partitionValues))
      case None      => eligible0
    }
    val byPartition = eligible.groupBy(_.partitionValues)
    // a deletion-vectored file is compactable even alone in its
    // partition: the rewrite materializes the anti-filter and PURGES the
    // DV (Delta's `OPTIMIZE` on DV'd tables), restoring scan speed.
    // Likewise a file referenced OUTSIDE the table root (a shallow
    // clone's borrow from its source): rewriting localizes it, so
    // OPTIMIZE fully detaches a clone even where the source was already
    // compacted to one file per partition
    // bin-packing: within a partition, only SMALL files (below the
    // floor) plus must-rewrite files (DV'd, external ref) compact;
    // already-large plain files stay untouched — and a partition whose
    // candidate set is one plain small file has nothing to gain
    val toCompact =
      if (purgeOnly) eligible.filter(_.dv.isDefined)
      else byPartition.values.flatMap { files =>
        val candidates = files.filter(f =>
          f.sizeBytes < sizeFloor || f.dv.isDefined ||
            GraftTable.isExternalRef(f.path))
        if (candidates.size > 1 || candidates.exists(f =>
            f.dv.isDefined || GraftTable.isExternalRef(f.path)))
          candidates
        else Nil
      }.toSeq
    if (toCompact.isEmpty) return snap.version

    val props = log.tableProperties()
    val table = new GraftTable(spark, path)
    val df = rewriteSource(table, props, snap, toCompact)
    val totalRows = toCompact.map(_.liveRecords).sum
    val nOut = math.max(1, math.ceil(totalRows.toDouble / maxRecordsPerFile).toInt)

    val stage = new Path(path, s"_staging-${UUID.randomUUID()}")
    val writeDf =
      if (snap.partitionColumns.nonEmpty)
        df.repartition(snap.partitionColumns.map(col): _*)
      else df.repartition(nOut)
    val physDf = ColumnMapping.toPhysical(writeDf, ColumnMapping.fromProps(props))
    var w = physDf.write.option("compression", "zstd")
    if (snap.partitionColumns.nonEmpty) w = w.partitionBy(snap.partitionColumns: _*)
    w.parquet(stage.toString)
    val added = promoteStaged(fs, conf, stage, new Path(path),
      statsCapCols(props, Some(snap), Nil, snap.partitionColumns))

    // compaction reads ONLY the files it rewrites: concurrent appends
    // (e.g. the streaming sink this auto-compacts behind) and rewrites
    // of other files commute and REBASE instead of forcing the whole
    // copy to re-run — only a concurrent remove of a compacted file is
    // a real conflict
    log.commitOrRebase(maintenanceProfile(toCompact), snap) { expected =>
      log.commit(
        operation = if (purgeOnly) "REORG" else "OPTIMIZE",
        mode = if (purgeOnly) "purge" else "compaction",
        schemaDdl = snap.schema.toDDL,
        partitionColumns = snap.partitionColumns,
        metadata = Map.empty,
        operationMetrics = Map(
          "num_compacted_files" -> toCompact.size.toLong,
          "num_added_files" -> added.size.toLong),
        add = added,
        remove = toCompact.map(f => RemoveFile(f.path)),
        expectedVersion = Some(expected))
    }
  }

  /** Remove every live file in ONE metadata-only commit (TRUNCATE): no
    * data is read or rewritten, history stays time-travelable until
    * vacuum ages the files out. Returns the new version.
    */
  def truncate(spark: SparkSession, path: String): Long = retryDerived {
    val table = GraftTable(spark, path)
    val snap = table.snapshot()
    table.log.commit(
      operation = "TRUNCATE",
      mode = "metadata",
      schemaDdl = snap.schema.toDDL,
      partitionColumns = snap.partitionColumns,
      metadata = Map.empty,
      operationMetrics = Map(
        "num_removed_files" -> snap.files.size.toLong),
      add = Nil,
      remove = snap.files.map(f => graft.log.RemoveFile(f.path)),
      expectedVersion = Some(snap.version))
  }

  /** Bin-packing floor shared by compaction and incremental clustering
    * (`spark.graft.optimize.minFileSizeBytes`, default 256 MiB): files
    * at or above it are considered done.
    */
  private def sizeFloorOf(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.optimize.minFileSizeBytes")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(256L * 1024 * 1024)

  /** The one bounded conflict retry, for every command whose actions
    * derive from a snapshot (merge, DML, OPTIMIZE, ALTER, RESTORE, ADD
    * CONSTRAINT, TRUNCATE): a concurrent commit CASes them out and `f`
    * re-derives from a fresh snapshot, at most four attempts in all.
    */
  private[graft] def retryDerived[T](f: => T): T = {
    var attempt = 1
    while (true) {
      try return f
      catch {
        case _: java.util.ConcurrentModificationException if attempt < 4 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Cluster the table's rows by `cols` — Delta's `OPTIMIZE ZORDER BY`
    * analog on Spark's range partitioner: rows are range-repartitioned
    * and sorted within files on the clustering columns, so each
    * rewritten file covers a near-disjoint min/max interval. After
    * clustering, the footer-stats skipping that comes free with every
    * write ([[graft.io.GraftTable.scanPruned]]) turns a point or range
    * query on the clustered columns into an O(matching-files) read —
    * the 100 TB access path for a selective non-partition predicate.
    * One commit swaps all files; readers and time travel are unaffected.
    */
  def optimizeCluster(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      maxRecordsPerFile: Long = 4 * 1024 * 1024,
      /** Partition-column predicate scoping the pass (range-sorts
        * within the matching partitions only).
        */
      where: Option[Column] = None,
      /** Incremental maintenance: sort only files NOT already written
        * under this layout, plus the small-file tail and must-rewrite
        * files (DV'd / external refs). A direct call defaults to the
        * historical full re-sort; the plain-OPTIMIZE dispatcher on a
        * clusterBy table passes `incremental = true`.
        */
      incremental: Boolean = false): Long = {
    require(cols.nonEmpty, "clustering requires at least one column")
    retryDerived {
      clusterOnce(spark, path, cols, maxRecordsPerFile, where, incremental,
        zorder = false)
    }
  }

  /** Rewrite source for maintenance (compaction / cluster / Z-order /
    * REORG PURGE): when row tracking is on, the rows carry their ids
    * MATERIALIZED as a physical `__graft_row_id` column — rewrites
    * never change a row's id (the read path prefers the materialized
    * column over the fresh-file baseRowId default).
    */
  private def rewriteSource(
      table: GraftTable,
      props: Map[String, String],
      snap: graft.log.Snapshot,
      files: Seq[AddFile]): DataFrame =
    table.dfForFilesCarryingIds(snap, files, carryIds = RowTracking.enabled(props))

  /** The candidate set of an incremental clustering pass over `scoped`
    * files: everything not yet written under `layout`, plus
    * already-clustered files that are small (the tail folds into the
    * layout) or MUST rewrite (DV'd / external refs). Returns Nil when
    * the pass would accomplish nothing, so a second maintenance pass
    * right after a first is a clean no-op. A candidate set that is
    * ONLY the already-clustered small tail re-packs solely when it
    * actually SHRINKS the file count — otherwise a steady state whose
    * sorted outputs all land under the size floor (narrow rows capped
    * by maxRecordsPerFile) would rewrite the whole table on every
    * routine pass, forever.
    */
  private def clusterCandidates(
      scoped: Seq[AddFile], layout: String, sizeFloor: Long,
      maxRecordsPerFile: Long): Seq[AddFile] = {
    val candidates = scoped.filter(f =>
      !f.clusteredBy.contains(layout) || f.sizeBytes < sizeFloor ||
        f.dv.isDefined || GraftTable.isExternalRef(f.path))
    val mustWork = candidates.exists(f =>
      !f.clusteredBy.contains(layout) || f.dv.isDefined ||
        GraftTable.isExternalRef(f.path))
    // shrink estimate is PER PARTITION — the rewrite can never merge
    // across partition directories, so a partitioned steady state of
    // one small clustered file per partition must count as already
    // packed (a table-wide ceil would claim 3 files pack into 1 and
    // rewrite the tail forever)
    val packs = candidates.size > 1 && {
      val expectedOut = candidates.groupBy(_.partitionValues).valuesIterator
        .map(fs => math.max(1L, math.ceil(
          fs.map(_.liveRecords).sum.toDouble / maxRecordsPerFile).toLong))
        .sum
      expectedOut < candidates.size
    }
    if (mustWork || packs) candidates else Nil
  }

  /** One clustering rewrite of the scoped files, for [[optimizeCluster]]
    * (rows range-sorted by `cols`) and [[optimizeZOrder]] (`zorder`: by
    * the Morton key of `cols`).
    */
  private def clusterOnce(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      maxRecordsPerFile: Long,
      where: Option[Column],
      incremental: Boolean,
      zorder: Boolean): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new CommitLog(path, conf)
    val fs = new Path(path).getFileSystem(conf)
    val snap = log.snapshot()
    val table = new GraftTable(spark, path)
    val layout = cols.mkString(",")
    val scoped = scopedFiles(spark, snap, where)
    val toSort =
      if (incremental) clusterCandidates(scoped, layout, sizeFloorOf(spark),
          maxRecordsPerFile)
      else scoped
    if (toSort.isEmpty) return snap.version
    val totalRows = toSort.map(_.liveRecords).sum
    val nOut = math.max(1, math.ceil(totalRows.toDouble / maxRecordsPerFile).toInt)
    val props = log.tableProperties()
    val df = rewriteSource(table, props, snap, toSort)
    val clustered =
      if (zorder) {
        val zCol = "__graft_z"
        df.withColumn(zCol, mortonKey(df, cols))
          .repartitionByRange(nOut, col(zCol))
          .sortWithinPartitions(col(zCol))
          .drop(zCol)
      } else
        df.repartitionByRange(nOut, cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
    val added = stageAndPromote(
      spark, fs, conf, clustered, path, snap.partitionColumns, "zstd", props,
      Some(snap)).map(_.copy(clusteredBy = Some(layout)))
    // like compaction: a concurrent append commutes (its file is not in
    // the removal set, so its rows survive — merely unclustered) and
    // REBASES instead of re-running the rewrite
    log.commitOrRebase(maintenanceProfile(toSort), snap) { expected =>
      log.commit(
        operation = "OPTIMIZE",
        mode = if (zorder) "zorder" else "cluster",
        schemaDdl = snap.schema.toDDL,
        partitionColumns = snap.partitionColumns,
        metadata = Map((if (zorder) "zorder_by" else "cluster_by") -> layout),
        operationMetrics = Map(
          "num_clustered_files" -> toSort.size.toLong,
          "num_added_files" -> added.size.toLong),
        add = added,
        remove = toSort.map(f => RemoveFile(f.path)),
        expectedVersion = Some(expected))
    }
  }

  /** Profile of a maintenance rewrite (compaction / clustering /
    * Z-order): it reads exactly the files it removes and its output is
    * row-identical to them, so only a concurrent remove of one of those
    * files conflicts — never an append.
    */
  private def maintenanceProfile(
      files: Seq[AddFile]): graft.log.TxnProfile =
    graft.log.TxnProfile(
      readPaths = files.map(_.path).toSet,
      removePaths = files.map(_.path).toSet,
      mayRead = _ => false)

  /** Morton (Z-order) key over up to 4 numeric/timestamp columns: each
    * value is quantile-normalized to a 16-bit rank (equi-depth cuts from
    * approxQuantile, so skewed columns still use their full bit range),
    * then the ranks' bits are interleaved with shift/mask arithmetic —
    * plain codegen'd column ops, no UDF. Locality: rows close in ANY
    * clustered dimension land close in key order.
    */
  private def mortonKey(df: DataFrame, cols: Seq[String]): Column = {
    require(cols.size >= 2 && cols.size <= 4,
      s"Z-order needs 2-4 columns, got ${cols.size}")
    // equi-depth cut points (255 interior cuts -> 256 coarse buckets,
    // refined to 16 bits by uniform interpolation inside the bucket).
    // One multi-column quantile job (not one scan per column); columns
    // are pre-cast to double so timestamps/dates work too. Ranking +
    // bit interleaving run in the native [[graft.functions.MortonKey]]
    // kernel — the declarative fold (255 comparisons per column,
    // duplicated per interleaved bit) spent ~50 s per OPTIMIZE ZORDER
    // call in janino compilation alone.
    val probes = (1 until 256).map(_ / 256.0).toArray
    val allCuts = df
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
      .stat.approxQuantile(cols.toArray, probes, 0.001)
    org.apache.spark.sql.graft.GraftInternal.column(
      graft.functions.MortonKey(
        cols.map(c => org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(c),
          org.apache.spark.sql.types.DoubleType)),
        allCuts.map(_.distinct.sorted)))
  }

  /** True multi-dimensional Z-order clustering (Delta `OPTIMIZE ZORDER BY`
    * with real bit interleaving): rows are ordered by the Morton key of
    * the clustering columns, so footer min/max stats prune selective
    * predicates on ANY of the columns — where [[optimizeCluster]]'s
    * hierarchical (lexicographic) sort only prunes prefixes: a predicate
    * on the second column alone reads every file there. One commit swaps
    * all files; readers and time travel are unaffected.
    */
  def optimizeZOrder(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      maxRecordsPerFile: Long = 4 * 1024 * 1024,
      /** Partition-scoped Z-ordering (Delta's `OPTIMIZE ... WHERE ...
        * ZORDER BY`): only files in matching partitions are re-clustered
        * — at 100 TB you Z-order the day that just landed, never the
        * whole table.
        */
      where: Option[Column] = None,
      /** Incremental maintenance (see [[optimizeCluster]]): Z-order
        * only the files not yet written under this layout plus the
        * small/must-rewrite tail. New files overlap older ones in
        * Morton range — footer stats stay conservative-correct, and an
        * occasional `full = true` pass restores disjointness.
        */
      incremental: Boolean = false): Long =
    retryDerived {
      clusterOnce(spark, path, cols, maxRecordsPerFile, where, incremental,
        zorder = true)
    }

  /** Copy-on-write commit: stage `df` as new data files and commit them
    * together with an explicit removal list — the file-granular rewrite
    * primitive behind the merge engine
    * ([[graft.merge.MergeClausesExecutor]]) and [[graft.merge.Dml]] (only
    * the files a command actually touches are replaced; everything else
    * stays as-is in the log). Single attempt by design: a concurrent commit invalidates
    * the caller's removal set, so conflicts surface as
    * ConcurrentModificationException for the caller (or a
    * RetryingCoordinator) to re-derive and re-run.
    *
    * On a `graft.cdf` table `df` may also carry the command's change
    * rows, tagged by [[Cdc.ChangeCol]] (NULL on the data rows): one
    * write stages both, the invariants are checked on the data rows
    * only, and the tagged files become the commit's `cdc` actions.
    */
  private[graft] def writeCow(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      snap: graft.log.Snapshot,
      removals: Seq[RemoveFile],
      operation: String,
      metadata: Map[String, String],
      compression: String = "zstd",
      /** Evolved schema for the commit (merge schema evolution): the
        * rewrite's columns, a superset of the snapshot's.
        */
      schemaOverride: Option[StructType] = None,
      /** Pre-built add actions committed alongside the staged files
        * (deletion-vector repoints of existing files — see
        * [[graft.merge.Dml]]); their rows were checked against the
        * invariants when they were first written.
        */
      extraAdds: Seq[AddFile] = Nil,
      /** Transaction read/write profile: when set, a lost CAS is
        * conflict-checked and REBASED onto the new head when the winning
        * commits logically commute (concurrent append to a partition the
        * command never read, etc.) — the staged files and actions are
        * committed as-is, zero recompute. Without it a lost CAS always
        * throws and the caller re-derives (see
        * [[graft.log.CommitLog.commitOrRebase]]).
        */
      profile: Option[graft.log.TxnProfile] = None,
      /** Columns the command EXPLICITLY assigned (UPDATE SET / merge
        * clause targets). Generated columns outside this set were
        * recomputed by the caller ([[Generated.recompute]]) and satisfy
        * their expressions by construction — only the explicitly
        * assigned ones are checked as the rows are written. None =
        * check every declared generated column.
        */
      assignedCols: Option[Set[String]] = None,
      /** The commit's mode: `dv` for merge-on-read commits, which pass
        * their counters ([[DeletionVectors.commitMetrics]]) in
        * `extraMetrics` beside the rewrite's own.
        */
      mode: String = "cow",
      extraMetrics: Map[String, Long] = Map.empty): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new CommitLog(path, conf)
    val fs = new Path(path).getFileSystem(conf)
    val schema = schemaOverride.getOrElse(snap.schema)
    val props = log.tableProperties()
    // schema-evolution merges can introduce source columns into the
    // DECLARED schema — under row tracking the reserved names must be
    // refused here exactly like the append path refuses them, or a
    // user column named __graft_row_id would be silently hijacked by
    // the id plumbing AND brick every subsequent append
    if (RowTracking.enabled(props))
      schema.fieldNames.foreach(c => require(
        !RowTracking.ReservedCols.exists(_.equalsIgnoreCase(c)),
        s"column name $c is reserved by row tracking"))
    // a change-data-feed table's rewrite carries its change rows in the
    // same frame, tagged by `_change_type` (NULL on the data rows)
    val tagged = Cdc.enabled(props) && df.columns.contains(Cdc.ChangeCol)
    require(!tagged || !schema.fieldNames.exists(_.equalsIgnoreCase(Cdc.ChangeCol)),
      s"column name ${Cdc.ChangeCol} is reserved by the change-data feed")
    val writeDf =
      if (snap.partitionColumns.nonEmpty)
        df.repartition(snap.partitionColumns.map(col): _*)
      else df
    val violation = Invariants.violation(props, schema, None, assignedCols)
    val (added, cdc) =
      stageAndPromote(spark, fs, conf,
        Invariants.guard(writeDf, schema,
          if (tagged) violation.map(when(col(Cdc.ChangeCol).isNull, _)) else violation),
        path, snap.partitionColumns, compression, props, Some(snap),
        changeCol = tagged)
        .partition(f => !tagged || !f.partitionValues.contains(Cdc.ChangeCol))
    // CAS on the snapshot the rewrite was derived from: a concurrent
    // commit conflicts (the merge/DML retry re-derives) instead of
    // having its changes silently clobbered by stale carried-over rows.
    // With a profile, commuting winners rebase instead of conflicting.
    def doCommit(expected: Long): Long = log.commit(
      operation = operation,
      mode = mode,
      schemaDdl = schema.toDDL,
      partitionColumns = snap.partitionColumns,
      // a merge insert may SUPPLY identity values (BY DEFAULT
      // semantics): keep the high-water mark ahead of them
      metadata = metadata ++
        Generated.hwmUpdates(added, log.tableProperties(), writtenFallback =
          Some(if (tagged) df.filter(col(Cdc.ChangeCol).isNull) else df)),
      operationMetrics = Map(
        "num_added_files" -> added.size.toLong,
        "num_removed_files" -> removals.size.toLong,
        "num_output_rows" -> added.map(_.numRecords).sum) ++ extraMetrics,
      add = added ++ extraAdds,
      remove = removals,
      expectedVersion = Some(expected),
      cdc = cdc)
    val v = profile match {
      case Some(p) => log.commitOrRebase(p, snap)(doCommit)
      case None    => doCommit(snap.version)
    }
    // merge/DML rewrites accumulate small files exactly like appends —
    // honor the table's autoCompact declaration post-commit, best-effort
    maybeAutoCompactTouched(spark, path, added, log.tableProperties())
    v
  }

  /** Write `df` under a staging dir, then promote the parquet files into
    * the table root. INT96 (the legacy default) carries no usable footer
    * statistics; MICROS makes timestamp columns data-skippable. Session
    * conf is restored afterwards — it must not leak into the caller's
    * writes. A write that fails leaves no staged file behind; one that
    * hit an invariant ([[Invariants]]) fails with its
    * IllegalArgumentException.
    *
    * With `changeCol` the frame carries change-data rows tagged by
    * [[Cdc.ChangeCol]] beside its data rows (NULL tag): the write
    * partitions by the tag ahead of `partitionCols`, so no file holds
    * the column, and the change files come back as the adds whose
    * partition values hold the tag (see [[promoteStaged]]).
    */
  private def stageAndPromote(
      spark: SparkSession,
      fs: FileSystem,
      conf: Configuration,
      writeDf: DataFrame,
      path: String,
      partitionCols: Seq[String],
      compression: String,
      /** The table's properties (a CREATING write's declarations), read
        * once by the caller.
        */
      props: Map[String, String],
      snapOpt: Option[graft.log.Snapshot],
      maxRecordsPerFile: Long = 0L,
      changeCol: Boolean = false): Seq[AddFile] = {
    val stage = new Path(path, s"_staging-${UUID.randomUUID()}")
    val tsConfKey = "spark.sql.parquet.outputTimestampType"
    val prevTsConf = spark.conf.getOption(tsConfKey)
    try {
      spark.conf.set(tsConfKey, "TIMESTAMP_MICROS")
      // renamed columns write under their PHYSICAL names (ColumnMapping
      // invariant: every data file and its footer stats are keyed by
      // the column's creation name, so reads and pushed filters resolve
      // uniformly across pre- and post-rename files)
      val physDf = ColumnMapping.toPhysical(writeDf,
        ColumnMapping.fromProps(props))
      var w = physDf.write.option("compression", compression)
      // declared point-lookup columns get parquet footer bloom filters
      // (consulted at prune time by GraftFileIndex — see BloomFilters)
      BloomFilters.writerOptions(props).foreach { case (k, v) =>
        w = w.option(k, v)
      }
      if (maxRecordsPerFile > 0)
        w = w.option("maxRecordsPerFile", maxRecordsPerFile)
      val dirCols = (if (changeCol) Seq(Cdc.ChangeCol) else Nil) ++ partitionCols
      if (dirCols.nonEmpty) w = w.partitionBy(dirCols: _*)
      try w.parquet(stage.toString)
      catch {
        case scala.util.control.NonFatal(e) =>
          fs.delete(stage, true)
          throw Invariants.violated(e)
            .map(new IllegalArgumentException(_, e)).getOrElse(e)
      }
      // stats cap (Delta's dataSkippingNumIndexedCols): on wide tables
      // keep footer stats only for the first N data columns — the log
      // stays O(N) per file instead of O(width)
      val statsCols = statsCapCols(props, snapOpt,
        writeDf.schema.fieldNames.toSeq, partitionCols)
      promoteStaged(fs, conf, stage, new Path(path), statsCols,
        changeDir = if (changeCol) Some(s"${Cdc.Dir}/${UUID.randomUUID()}") else None)
    } finally {
      prevTsConf match {
        case Some(v) => spark.conf.set(tsConfKey, v)
        case None    => spark.conf.unset(tsConfKey)
      }
    }
  }

  /** In-place adoption of an existing parquet directory (Delta's
    * `CONVERT TO DELTA`): commit every data file, with footer
    * statistics, as version 0 of a graft table — METADATA ONLY, no
    * data is rewritten or moved, which is what makes converting a
    * 100 TB layout a driver-side operation. Schema and typed partition
    * columns come from Spark's own parquet/hive-dir inference; the
    * original files keep serving reads through the commit-log
    * FileIndex afterwards (time travel starts at the conversion).
    *
    * `expectedPartitions`, when given (SQL `PARTITIONED BY`), must
    * match the directory-derived partition columns — a mismatch means
    * the caller misunderstands the layout, so fail loudly.
    */
  def convertParquet(
      spark: SparkSession,
      path: String,
      expectedPartitions: Seq[String] = Nil): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new CommitLog(path, conf)
    require(!log.tableExists(), s"already a graft table: $path")
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"no such directory: $path")
    // schema incl. typed partition columns via Spark's own inference
    val schema = spark.read.parquet(path).schema
    val files = listRec(fs, root)
      .filter(_.getName.endsWith(".parquet"))
      .filterNot { p =>
        relativize(root, p).split('/')
          .exists(seg => seg.startsWith("_") || seg.startsWith("."))
      }
    require(files.nonEmpty, s"no parquet files under $path")
    def partKeys(rel: String): Seq[String] =
      rel.split('/').dropRight(1).toSeq
        .filter(_.contains('=')).map(_.takeWhile(_ != '='))
    val partCols = partKeys(relativize(root, files.head))
    files.foreach { f =>
      val rel = relativize(root, f)
      require(partKeys(rel) == partCols,
        s"inconsistent partition layout: $rel vs ${partCols.mkString("/")}")
    }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c missing from inferred schema"))
    if (expectedPartitions.nonEmpty)
      require(expectedPartitions == partCols,
        s"PARTITIONED BY (${expectedPartitions.mkString(", ")}) does not " +
          s"match the directory layout (${partCols.mkString(", ")})")
    val adds = files.map { f =>
      val rel = relativize(root, f)
      val st = fs.getFileStatus(f)
      val (rows, stats) = footerInfo(conf, f)
      AddFile(rel, partitionValuesOf(rel), st.getLen,
        rows, st.getModificationTime, stats)
    }
    log.commit(
      operation = "CONVERT",
      mode = "metadata",
      schemaDdl = schema.toDDL,
      partitionColumns = partCols,
      metadata = Map.empty,
      operationMetrics = Map(
        "num_added_files" -> adds.size.toLong,
        "num_output_rows" -> adds.map(_.numRecords).sum),
      add = adds,
      remove = Nil)
  }

  /** Promote a staging directory written by an external writer (the
    * DSv2 streaming write, which checked the invariants as it wrote the
    * rows) and append its files in one commit carrying the idempotent
    * `txn` marker (see [[WriteOptions.txnAppId]]) — footer stats and
    * operation metrics identical to the batch append path. A lost
    * version claim retries at the new head like the append loop of
    * `writeAttempt`; a txn already applied deletes the promoted files
    * and no-ops at the table's current version.
    */
  private[graft] def commitPromoted(
      spark: SparkSession,
      path: String,
      stage: Path,
      operation: String,
      metadata: Map[String, String],
      txn: (String, Long)): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val log = new CommitLog(path, conf)
    val fs = new Path(path).getFileSystem(conf)
    val snap = log.snapshot()
    val added = promoteStaged(fs, conf, stage, new Path(path),
      statsCapCols(log.tableProperties(), Some(snap), Nil,
        snap.partitionColumns))
    var head = snap
    var attempt = 0
    while (true) {
      try return log.commit(
        operation = operation,
        mode = "append",
        schemaDdl = head.schema.toDDL,
        partitionColumns = head.partitionColumns,
        metadata = metadata,
        operationMetrics = Map(
          "num_added_files" -> added.size.toLong,
          "num_output_rows" -> added.map(_.numRecords).sum),
        add = added,
        remove = Nil,
        txn = Some(txn))
      catch {
        case e: graft.log.TxnAlreadyApplied =>
          added.foreach(f => fs.delete(new Path(path, f.path), false))
          return e.tableVersion
        case _: java.util.ConcurrentModificationException if attempt < 5 =>
          attempt += 1
          head = log.snapshot()
          require(head.partitionColumns == snap.partitionColumns,
            s"concurrent writer changed partitioning to ${head.partitionColumns}")
          requireCompatible(head.schema, snap.schema, path)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Move staged parquet files into the table root, preserving partition
    * subdirectories; return their add actions (with footer row counts).
    *
    * With `changeDir` the staged tree is partitioned by
    * [[Cdc.ChangeCol]] first: files under its NULL partition are data
    * files and move to the table root without that directory level;
    * the others move under `changeDir` as they are, and their adds —
    * the commit's `cdc` actions, without footer stats — keep the change
    * type among their partition values.
    */
  private def promoteStaged(
      fs: FileSystem,
      conf: Configuration,
      stage: Path,
      root: Path,
      /** Physical column names to keep footer stats for; None = all.
        * Delta's `dataSkippingNumIndexedCols` posture: on a 1000-column
        * table, per-file stats for every column dominate the log — cap
        * them to the first N schema columns (`graft.dataSkippingNumIndexedCols`)
        * and skipping on later columns degrades conservatively to
        * keep-the-file.
        */
      statsCols: Option[Set[String]] = None,
      changeDir: Option[String] = None): Seq[AddFile] = {
    val staged = listRec(fs, stage).filter(_.getName.endsWith(".parquet"))
    val adds = staged.map { f =>
      val staged0 = relativize(stage, f)
      val kind = changeDir.flatMap(_ => partitionValuesOf(staged0).get(Cdc.ChangeCol))
      val change = changeDir.filter(_ => kind.exists(_ != DEFAULT_PARTITION_NAME))
      val rel0 = (change, kind) match {
        case (Some(dir), _) => s"$dir/$staged0"
        case (None, Some(_)) => staged0.substring(staged0.indexOf('/') + 1)
        case _ => staged0
      }
      // files under a __bucket=N dir get Spark's `_NNNNN` bucket-id name
      // suffix, so the native scan can read the table with a BucketSpec
      // (exchange-free co-bucketed joins; see GraftNativeRelation)
      val rel = partitionValuesOf(rel0).get(Bucketing.BucketCol).map(_.toInt) match {
        case Some(b) =>
          val segs = rel0.split('/')
          val name = segs.last
          val renamed =
            if (name.contains(".")) name.replaceFirst("\\.", f"_$b%05d.")
            else f"${name}_$b%05d"
          (segs.dropRight(1) :+ renamed).mkString("/")
        case None => rel0
      }
      val target = new Path(root, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(f, target))
        throw new java.io.IOException(s"rename $f -> $target failed")
      val st = fs.getFileStatus(target)
      val (rows, stats0) = footerInfo(conf, target)
      val stats = statsCols match {
        case _ if change.isDefined => Map.empty[String, graft.log.FileColStat]
        case Some(keep) => stats0.filter { case (c, _) => keep(c) }
        case None       => stats0
      }
      AddFile(rel, partitionValuesOf(rel), st.getLen,
        rows, st.getModificationTime, stats)
    }
    fs.delete(stage, true)
    adds
  }

  private def listRec(fs: FileSystem, p: Path): Seq[Path] = {
    val it = fs.listFiles(p, true)
    val buf = scala.collection.mutable.ArrayBuffer[Path]()
    while (it.hasNext) buf += it.next().getPath
    buf.toSeq
  }

  private def relativize(base: Path, f: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val s = f.toUri.getPath
    require(s.startsWith(b + "/"), s"$f not under $base")
    s.stripPrefix(b + "/")
  }

  /** Parse hive-style `col=value` path segments, undoing the
    * `escapePathName` Spark's writer applies (a `+` stays a `+`).
    */
  private[io] def partitionValuesOf(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(seg.substring(0, i) ->
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.substring(i + 1)))
    }.toMap

  /** Row count + per-column min/max/null stats from the parquet footer —
    * data-skipping metadata comes free with the write, no extra pass
    * (the vectorized writer already computed the statistics).
    */
  private def footerInfo(
      conf: Configuration, p: Path): (Long, Map[String, graft.log.FileColStat]) = {
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val footer = r.getFooter
      val blocks = footer.getBlocks
      var rows = 0L
      // (min, max, nulls, usable) accumulated across row groups; nulls
      // drops to the -1 "unknown" sentinel as soon as any row group lacks
      // a recorded null count (parquet getNumNulls returns -1 when unset —
      // summing it blindly would fabricate a count and mis-prune IS NULL)
      val acc = scala.collection.mutable.LinkedHashMap[String, (Any, Any, Long, Boolean)]()
      def addNulls(cur: Long, s: org.apache.parquet.column.statistics.Statistics[_]): Long =
        if (cur < 0 || s == null || !s.isNumNullsSet || s.getNumNulls < 0) -1L
        else cur + s.getNumNulls
      blocks.forEach { b =>
        rows += b.getRowCount
        b.getColumns.forEach { c =>
          if (c.getPath.size() == 1) { // top-level leaf columns only
            val name = c.getPath.toDotString
            val s = c.getStatistics
            val usable = s != null && !s.isEmpty && s.hasNonNullValue
            val cur = acc.getOrElse(name, (null, null, 0L, true))
            if (!usable || !cur._4) {
              acc(name) = (null, null, addNulls(cur._3, s), false)
            } else {
              val mn = s.genericGetMin
              val mx = s.genericGetMax
              // Binary: unsigned byte order (the order parquet stats use);
              // Binary.compareTo is signed-byte lexicographic in parquet-mr
              // and would mis-pick the min/max across row groups for
              // high-bit UTF-8 strings
              def unsignedLt(x: Binary, y: Binary): Boolean = {
                val a = x.getBytesUnsafe; val b = y.getBytesUnsafe
                val n = math.min(a.length, b.length)
                var i = 0
                while (i < n) {
                  val c = (a(i) & 0xff) - (b(i) & 0xff)
                  if (c != 0) return c < 0
                  i += 1
                }
                a.length < b.length
              }
              def lt(a: Any, b: Any): Boolean = (a, b) match {
                case (x: Binary, y: Binary) => unsignedLt(x, y)
                case (x: Comparable[_], y) =>
                  x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
              }
              val nmn = if (cur._1 == null || lt(mn, cur._1)) mn else cur._1
              val nmx = if (cur._2 == null || lt(cur._2, mx)) mx else cur._2
              acc(name) = (nmn, nmx, addNulls(cur._3, s), true)
            }
          }
        }
      }
      val isString: Set[String] = footer.getFileMetaData.getSchema.getFields
        .toArray.collect {
          case f: org.apache.parquet.schema.Type
              if f.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            f.getName
        }.toSet
      def render(v: Any, name: String): Option[String] = v match {
        case null => None
        case b: Binary if isString(name) => Some(b.toStringUsingUTF8)
        case _: Binary => None // non-string binary: no stats
        case other => Some(other.toString)
      }
      val stats = acc.map { case (name, (mn, mx, nulls, usable)) =>
        if (usable)
          name -> graft.log.FileColStat(render(mn, name), render(mx, name), nulls)
        else name -> graft.log.FileColStat(None, None, nulls)
      }.toMap
      (rows, stats)
    } finally r.close()
  }

  /** Removals of a `replaceWhere` overwrite: the live files whose
    * partition values satisfy `pred` ([[PartitionPredicate]]).
    */
  private def replaceWhereRemovals(
      spark: SparkSession, snap: graft.log.Snapshot, pred: Column): Seq[RemoveFile] = {
    require(snap.partitionColumns.nonEmpty,
      "replaceWhere requires a partitioned table")
    PartitionPredicate.files(spark, snap, pred).map(f => RemoveFile(f.path))
  }

  /** The files an OPTIMIZE pass may rewrite: all of them, or with a
    * `where` the files of the partitions it selects.
    */
  private def scopedFiles(
      spark: SparkSession, snap: graft.log.Snapshot, where: Option[Column]): Seq[AddFile] =
    where.fold(snap.files) { pred =>
      require(snap.partitionColumns.nonEmpty,
        "OPTIMIZE ... WHERE requires a partitioned table " +
          "(the predicate scopes by partition values)")
      PartitionPredicate.files(spark, snap, pred)
    }

  /** Append-mode schema union: existing field types win; new fields are
    * appended (nullable). Type conflicts error.
    */
  private[graft] def mergeSchemas(old: StructType, incoming: StructType): StructType = {
    val oldNames = old.map(_.name).toSet
    incoming.foreach { f =>
      old.find(_.name == f.name).foreach { ex =>
        require(ex.dataType == f.dataType,
          s"schema merge conflict on '${f.name}': ${ex.dataType} vs ${f.dataType}")
      }
    }
    uniqueIgnoringCase(StructType(old ++ incoming.filterNot(f => oldNames(f.name))
      .map(_.copy(nullable = true))))
  }

  /** `schema`, refused when two column names differ in case alone
    * (Delta's rule, whatever `spark.sql.caseSensitive` says): a
    * case-insensitive read merges such a data column into the partition
    * column of the same name, and could serve only one of them.
    */
  private def uniqueIgnoringCase(schema: StructType): StructType = {
    val clashes = schema.fieldNames.groupBy(_.toLowerCase(java.util.Locale.ROOT))
      .values.filter(_.length > 1).map(_.mkString("/"))
    require(clashes.isEmpty,
      s"column names must differ in more than case: ${clashes.mkString(", ")}")
    schema
  }

  private def requireCompatible(old: StructType, incoming: StructType, path: String): Unit = {
    val o = old.map(f => f.name -> f.dataType).toMap
    val i = incoming.map(f => f.name -> f.dataType).toMap
    require(o == i,
      s"schema mismatch writing to $path (pass schemaMode to evolve):\n table: $old\n data:  $incoming")
  }
}
