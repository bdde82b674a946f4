package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{SliceCompiler, TableSlice}
import graft.log.{AddFile, CommitLog, Snapshot}

/** Read-side handle for a graft table — the Spark-native analog of the
  * reference's `DeltaTable` usage (scan: dagster_delta/handler.py:519-551;
  * time travel: resource.py:46,72-77; stats: handler.py:490-516;
  * history: surfaced metadata, handler.py:264-291).
  */
final class GraftTable(val spark: SparkSession, val path: String) {

  val log = new CommitLog(path, spark.sessionState.newHadoopConf())

  def version(): Long =
    log.latestVersion().getOrElse(
      throw new IllegalStateException(s"no graft table at $path"))

  def snapshot(versionAsOf: Option[Long] = None): Snapshot =
    log.snapshot(versionAsOf)

  /** Latest version committed at or before `tsMillis` — the
    * `TIMESTAMP AS OF` lookup. Timestamps are IN-COMMIT and MONOTONE
    * (`ts(v) = max(now, ts(v-1)+1)` — Delta's in-commit timestamp
    * contract, see [[graft.log.CommitLog.commit]]), so this resolves
    * deterministically even under writer clock skew or a log
    * copy/restore that scrambles file mtimes.
    */
  def versionAtTimestamp(tsMillis: Long): Long =
    log.versions().map(log.readCommit)
      .filter(_.timestampMs <= tsMillis)
      .lastOption.map(_.version)
      .getOrElse(throw new IllegalArgumentException(
        s"no commit at or before timestamp $tsMillis ms for $path"))

  /** Earliest version committed at or after `tsMillis` — the
    * change-feed/stream `startingTimestamp` lookup (Delta's semantics:
    * start from the first commit the timestamp could have observed).
    */
  def versionAtOrAfterTimestamp(tsMillis: Long): Long =
    log.versions().map(log.readCommit)
      .find(_.timestampMs >= tsMillis).map(_.version)
      .getOrElse(throw new IllegalArgumentException(
        s"no commit at or after timestamp $tsMillis ms for $path"))

  /** Full-table DataFrame at a version. Files are enumerated from the log
    * (never by directory listing — object-store-listing-free, like Delta),
    * partition columns are recovered from hive-style paths via `basePath`,
    * and the final projection pins column order and types to the table
    * schema so schema evolution (older files lacking new columns) reads as
    * nulls.
    */
  def toDf(versionAsOf: Option[Long] = None): DataFrame =
    toDf(versionAsOf, Map.empty)

  /** `readOptions` are passed to the parquet reader — the reference's
    * `parquet_read_options` surface (e.g. int96 timestamp handling,
    * handler.py:300-309).
    */
  def toDf(versionAsOf: Option[Long], readOptions: Map[String, String]): DataFrame = {
    val snap = snapshot(versionAsOf)
    // full-snapshot reads of bucketed tables report HashPartitioning, so
    // downstream joins/aggs on the bucket key skip their exchange
    dfForFiles(snap, snap.files, readOptions,
      graft.sources.GraftNativeRelation.bucketSpecOf(this, snap))
  }

  /** Table read with the stable `_graft_row_id` column appended (row
    * tracking — [[RowTracking]]): materialized ids win for rewritten
    * files, `baseRowId + row_index` is the fresh-file default, NULL for
    * files written before the feature was enabled. Requires
    * `graft.rowTracking = true`.
    */
  def toDfWithRowIds(versionAsOf: Option[Long] = None): DataFrame = {
    require(RowTracking.enabled(log.tableProperties()),
      s"row tracking is not enabled on $path — create/alter the table " +
        s"with ${graft.log.CommitLog.RowTrackingKey} = true")
    val snap = snapshot(versionAsOf)
    dfForFiles(snap, snap.files,
      bucketSpec = graft.sources.GraftNativeRelation.bucketSpecOf(this, snap),
      withRowId = true)
  }

  /** [[dfForFiles]] for a REWRITE under row tracking: when `carryIds`,
    * the rows come back with their current ids renamed to the physical
    * materialization column (`__graft_row_id`), so writing the frame
    * preserves every carried row's id. One definition for all seven
    * rewrite paths (maintenance, COW/DV DML, the three merge executors)
    * — the carry semantics cannot drift between them.
    */
  private[graft] def dfForFilesCarryingIds(
      snap: Snapshot,
      files: Seq[AddFile],
      carryIds: Boolean,
      withRowMeta: Boolean = false): DataFrame = {
    val d = dfForFiles(snap, files,
      withRowMeta = withRowMeta, withRowId = carryIds)
    if (carryIds)
      d.withColumnRenamed(RowTracking.Col, RowTracking.PhysicalCol)
        .withColumnRenamed(RowTracking.VersionCol, RowTracking.PhysicalVersionCol)
    else d
  }

  /** Advanced: read a specific file subset of a snapshot (used by the
    * streaming source and bucketing internals). Plans over the
    * commit-log FileIndex — zero filesystem listing, with partition
    * pruning and footer-stats skipping driven from log metadata (see
    * [[graft.sources.GraftFileIndex]]).
    */
  def dfForFiles(
      snap: Snapshot,
      files: Seq[AddFile],
      readOptions: Map[String, String] = Map.empty,
      bucketSpec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = None,
      /** Also project `__graft_file` / `__graft_row_index` (the physical
        * row identity deletion-vector DML keys bitmaps on).
        */
      withRowMeta: Boolean = false,
      /** Also project `_graft_row_id` (row tracking — see
        * [[RowTracking]]).
        */
      withRowId: Boolean = false): DataFrame =
    org.apache.spark.sql.graft.GraftInternal.dfFromPlan(spark,
      graft.sources.GraftNativeRelation.planFor(spark, path, snap.copy(files = files),
        bucketSpec = bucketSpec, readOptions = readOptions,
        withRowMeta = withRowMeta, withRowId = withRowId))

  /** Sliced scan: partition predicate (read-side range semantics) +
    * projection — the reference's `load_input` path
    * (handler.py:293-317,536-549) with Catalyst doing the pushdown.
    */
  def scan(slice: TableSlice, versionAsOf: Option[Long] = None): DataFrame =
    SliceCompiler(toDf(versionAsOf), slice)

  /** Data-skipping scan: the table read with `filters` applied. The
    * scan's own index ([[graft.sources.GraftFileIndex]]) prunes on the
    * driver against log metadata, with no file IO beyond bloom footers:
    * partition filters on the files' typed partition values, the rest on
    * footer min/max and null counts, then `=`/`IN` on declared bloom
    * columns — the pruner the conflict checks use too
    * ([[DataSkipping.pruner]]). At 100 TB a selective point/range query
    * on a clustered column reads O(matching files).
    */
  def scanPruned(
      filters: Seq[DataFilter],
      versionAsOf: Option[Long] = None): DataFrame = {
    val df = toDf(versionAsOf)
    filters.map(_.toColumn).reduceOption(_ && _).fold(df)(df.filter)
  }

  /** Number of files [[scanPruned]]`(filters)` reads: the count its
    * planned scan's index keeps (for tests/diagnostics; plans, runs no
    * job).
    */
  def filesAfterPruning(filters: Seq[DataFilter]): Int =
    scanPruned(filters).queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.totalNumberOfFiles.toInt
    }.getOrElse(0)

  /** Live-files ⋈ add-actions stats join + SUM — the reference's only
    * embedded relational computation (handler.py:490-516). Returns one row:
    * (num_files, size_bytes, size_mb, num_records).
    */
  def stats(): DataFrame = {
    import spark.implicits._
    val snap = snapshot()
    // snap.files IS the latest add action per live path (replay keeps the
    // newest), so the files ⋈ actions join collapses to the file list —
    // and stays correct when replay starts from a checkpoint
    val liveFiles = snap.files.map(_.path).toDF("path")
    val actions = snap.files
      .map(a => (a.path, a.sizeBytes, a.liveRecords))
      .toDF("path", "size_bytes", "num_records")
    liveFiles
      .join(actions, Seq("path"), "inner")
      .agg(
        count(lit(1)).as("num_files"),
        coalesce(sum($"size_bytes"), lit(0L)).as("size_bytes"),
        (coalesce(sum($"size_bytes"), lit(0L)) / lit(1024.0 * 1024.0))
          .as("size_mb"),
        coalesce(sum($"num_records"), lit(0L)).as("num_records"))
  }

  /** Commit history, newest first (Delta `history()` analog; the reference
    * asserts custom metadata shows up here —
    * dagster_delta_tests/test_metadata_inputs.py:44-51).
    */
  def history(): Seq[graft.log.Commit] =
    log.versions().map(log.readCommit).reverse

  /** Highest idempotent-transaction version recorded for `appId`
    * (Delta's `DeltaTable.txnVersion`): the restart handshake of the
    * foreachBatch exactly-once pattern — see
    * [[graft.io.WriteOptions.txnAppId]]. None = never written.
    */
  def txnVersion(appId: String): Option[Long] =
    log.tableProperties().get(graft.log.CommitLog.txnKey(appId)).map(_.toLong)

  /** History as a DataFrame (Delta `DESCRIBE HISTORY`): one row per
    * commit, newest first, ending with the commit's full
    * `operation_metrics`.
    */
  def historyDf(): DataFrame = {
    import spark.implicits._
    history().map(c => (c.version, c.timestampMs, c.operation, c.mode,
      c.add.size.toLong, c.remove.size.toLong,
      c.operationMetrics.getOrElse("num_output_rows", -1L), c.operationMetrics))
      .toDF("version", "timestamp_ms", "operation", "mode",
        "num_added_files", "num_removed_files", "num_output_rows", "operation_metrics")
  }

  /** One-row table summary (Delta `DESCRIBE DETAIL`). */
  def detail(): DataFrame = {
    import spark.implicits._
    val snap = snapshot()
    val props = log.tableProperties()
    Seq((
      "graft", path, snap.version, snap.files.size.toLong,
      snap.files.map(_.sizeBytes).sum, snap.files.map(_.liveRecords).sum,
      snap.partitionColumns.mkString(","), snap.schema.toDDL,
      props.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(";")))
      .toDF("format", "location", "version", "num_files", "size_bytes",
        "num_records", "partition_columns", "schema_ddl", "properties")
  }

  /** RESTORE the table to an earlier version as a NEW commit (Delta's
    * `RESTORE TABLE ... TO VERSION AS OF`): the target snapshot's file
    * set, schema and partitioning become current again. Metadata-only —
    * no data file is read or rewritten, so undoing a bad write on a
    * 100 TB table is O(#churned files) of log work. History is
    * preserved (the bad versions stay time-travelable until vacuum
    * ages their files out). Refuses when vacuum already deleted any
    * target file. Returns the new version.
    */
  def restore(toVersion: Long): Long = GraftWriter.retryDerived {
    val cur = snapshot()
    val tgt = snapshot(Some(toVersion))
    // file identity includes the deletion vector: a path whose DV
    // changed since the target must be re-added with the OLD dv (add
    // actions upsert by path), or the restore would keep post-target
    // deletes applied
    def ident(f: AddFile): (String, Option[graft.log.DvFile]) = (f.path, f.dv)
    val curIds = cur.files.map(ident).toSet
    val tgtIds = tgt.files.map(ident).toSet
    val missing = tgt.files.filterNot { f =>
      log.fs.exists(new Path(path, f.path)) &&
        f.dv.forall(d => log.fs.exists(new Path(path, d.path)))
    }
    require(missing.isEmpty,
      s"cannot restore $path to v$toVersion: ${missing.size} of its files " +
        s"were vacuumed (e.g. ${missing.take(3).map(_.path).mkString(", ")})")
    // symmetric identity: a path whose DV changed since the target is
    // BOTH removed (with the current dv) and re-added (with the old dv)
    // in this commit, so the change feed's EXCEPT-ALL diff yields
    // exactly the resurrected/re-deleted rows and the streaming source's
    // same-commit remove+add guard treats it as the metadata rewrite it
    // is — an add with no matching remove would replay every live row of
    // the file as a spurious insert
    val reAdded = tgt.files.filterNot(f => curIds(ident(f)))
    val dropped = cur.files.filterNot(f => tgtIds(ident(f)))
    log.commit(
      operation = "RESTORE",
      mode = "metadata",
      schemaDdl = tgt.schema.toDDL,
      partitionColumns = tgt.partitionColumns,
      metadata = Map("restored_version" -> toVersion.toString),
      operationMetrics = Map(
        "num_restored_files" -> reAdded.size.toLong,
        "num_removed_files" -> dropped.size.toLong),
      add = reAdded,
      remove = dropped.map(f => graft.log.RemoveFile(f.path)),
      expectedVersion = Some(cur.version)) // diff derived from cur
  }

  /** Net row-level changes between two versions — the change-data-feed
    * read (`_change_type` ∈ insert/delete; an update surfaces as its
    * delete+insert pair, exactly a CDF without preimage tracking).
    * Computed from the CHURNED FILES ONLY: multiset difference
    * (EXCEPT ALL) between rows of files added since `fromVersion` and
    * rows of files removed since then. Rows carried over by
    * copy-on-write rewrites appear identically on both sides and cancel,
    * and files live in both versions are never read — cost scales with
    * the churn, not the table (a one-partition backfill diff on a
    * 100 TB table reads one partition's worth of files).
    */
  def tableChanges(fromVersion: Long, toVersion: Long): DataFrame =
    changes(fromVersion, toVersion, signed = false)

  /** Signed net-change feed over `(fromVersion, toVersion]`: the
    * source's logical columns plus [[Cdc.SignCol]], +1 for a row the
    * range added and −1 for a row it removed. It reads what
    * [[tableChanges]] reads, but never nets a churned pair with EXCEPT
    * ALL: a row a rewrite carried over appears once at +1 and once at
    * −1. So the feed is exact for aggregates LINEAR in the row multiset
    * (sum, count(*), count(col)): Σ over the signed rows equals the same
    * sum over [[tableChanges]], and the carried-over rows cancel inside
    * the consumer's own `groupBy` — where partial aggregation shuffles
    * per-key partials instead of every churned row. Not for extrema or
    * row-level consumers: those need [[tableChanges]]. Change files are
    * signed by kind (see [[Cdc.signOf]]); same loud retention error as
    * [[tableChanges]].
    */
  private[graft] def signedChanges(fromVersion: Long, toVersion: Long): DataFrame =
    changes(fromVersion, toVersion, signed = true)

  private def changes(fromVersion: Long, toVersion: Long, signed: Boolean): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    // same loud retention contract as changesForCommits: the range is
    // EXCLUSIVE-from, so commits (fromVersion, toVersion] must all
    // survive — cdcChanges' surviving-filter would otherwise silently
    // SKIP retention-pruned commits and desynchronize every
    // incremental consumer keyed on this feed
    log.versions().headOption
      .filter(oldest => fromVersion + 1 < oldest && fromVersion < toVersion)
      .foreach { oldest =>
        throw new IllegalStateException(
          s"tableChanges at $path: versions [${fromVersion + 1}, " +
            s"${math.min(toVersion, oldest - 1)}] were removed by log " +
            "retention (cleanOldLogs); the change range " +
            s"($fromVersion, $toVersion] is no longer fully available.")
      }
    cdcChanges(fromVersion, toVersion, signed).getOrElse(
      diffChanges(fromVersion, toVersion, signed))
  }

  /** Exact per-commit change feed — available once any commit in the
    * range wrote change files (i.e. the table runs with `graft.cdf`).
    * Per commit: change files when present (updates surface as
    * `update_preimage`/`update_postimage` pairs); a pure append's added
    * files ARE its inserts; and an overwrite-family commit
    * (overwrite / replaceWhere / dynamic overwrite / OPTIMIZE /
    * RESTORE / pre-CDF DML) contributes its own net row diff — EXCEPT
    * ALL over that commit's churned files only, so carried-over rows
    * cancel (a compaction contributes nothing) and cost scales with the
    * commit's churn, never the table. Ranges with no change files at
    * all fall back to the single whole-range diff below (one EXCEPT ALL
    * instead of one per commit).
    */
  private def cdcChanges(
      fromVersion: Long, toVersion: Long, signed: Boolean): Option[DataFrame] = {
    val surviving = log.versions().toSet
    val commits = ((fromVersion + 1) to toVersion)
      .filter(surviving).map(v => log.readCommit(v))
    val covered = commits.nonEmpty && commits.exists(_.cdc.nonEmpty)
    if (!covered) return None
    Some(changesOf(commits, surviving, snapshot(Some(toVersion)), signed))
  }

  /** Exact per-commit changes of commits `[fromCommit, toCommit]`,
    * aligned to `alignTo`'s schema (its column mapping projects every
    * file generation — data and change files carry PHYSICAL names — to
    * the output's logical names). Each commit contributes: its change
    * files when present; a pure append's added files as inserts; an
    * overwrite-family commit's net EXCEPT-ALL diff over its churned
    * files; nothing for metadata-only commits. Powers both the batch
    * CDF range read and the streaming change feed. Returns an empty
    * (schema-correct) frame when no commit contributed rows.
    *
    * Fails loudly (mirroring [[org.apache.spark.sql.graft.GraftStreamSource]]'s
    * gap error and Delta's batch CDF) when log retention already cleaned
    * part of the requested range — a change feed that silently skips
    * commits would desynchronize every mirror built on it.
    */
  def changesForCommits(
      fromCommit: Long, toCommit: Long, alignTo: Snapshot): DataFrame = {
    val surviving = log.versions()
    surviving.headOption
      .filter(oldest => fromCommit < oldest && fromCommit <= toCommit)
      .foreach { oldest =>
        throw new IllegalStateException(
          s"changesForCommits at $path: versions [$fromCommit, " +
            s"${math.min(toCommit, oldest - 1)}] were removed by log " +
            "retention (cleanOldLogs); the requested change range is no " +
            s"longer fully available. Use startingVersion >= $oldest, or " +
            "read a full snapshot instead.")
      }
    val set = surviving.toSet
    changesOf((fromCommit to toCommit).filter(set)
      .map(v => log.readCommit(v)), set, alignTo, signed = false)
  }

  /** Core of the change feed over pre-read commits (callers pass the
    * commit objects so ranges are not read twice from the log — commit
    * reads are the metadata hot path on object stores). `signed` emits
    * the [[signedChanges]] shape: an overwrite-family commit's churned
    * files signed as they are, not netted.
    */
  private def changesOf(
      commits: Seq[graft.log.Commit],
      surviving: Set[Long],
      alignTo: Snapshot,
      signed: Boolean): DataFrame = {
    def metadataOnly(c: graft.log.Commit) =
      c.add.isEmpty && c.remove.isEmpty && c.cdc.isEmpty
    def pureAppend(c: graft.log.Commit) =
      c.cdc.isEmpty && c.remove.isEmpty && c.add.nonEmpty
    val cc = Cdc.ChangeCol
    def alignData(df: DataFrame): DataFrame =
      Schemas.conformTo(df, alignTo.schema)
    // every change row carries its commit's provenance (Delta's CDF
    // contract): version + wall-clock commit timestamp; the signed feed
    // carries only the multiplicity
    def finish(df: DataFrame, c: graft.log.Commit): DataFrame = {
      val data = Schemas.padTo(df, alignTo.schema)
      val dataCols = alignTo.schema.map(f => col(f.name))
      if (signed) data.select(dataCols :+ Cdc.signOf(col(cc)).as(Cdc.SignCol): _*)
      else Cdc.stamp(data, c.version, c.timestampMs).select(dataCols ++
        Seq(col(cc), col(Cdc.VersionCol), col(Cdc.TimestampCol)): _*)
    }
    // A change file lacks the columns its partition values hold (the
    // change type and the table's partition columns, under a tagged
    // write — see GraftWriter.writeCow): those are read as partition
    // columns, typed like a scan's. A file holding every column inline
    // has no partition values, so one rule reads both layouts. Data
    // columns carry PHYSICAL names, which alignTo's mapping projects to
    // the logical names; since-dropped columns are not read.
    val tagged = StructType(alignTo.schema.fields :+ StructField(cc, StringType))
    def changeFiles(c: graft.log.Commit): DataFrame = {
      val keys = c.cdc.flatMap(_.partitionValues.keys).toSet
      dfForFiles(alignTo.copy(schema = tagged,
        partitionColumns = tagged.fieldNames.toSeq.filter(keys)), c.cdc)
    }
    val parts = commits.flatMap { c =>
      if (c.cdc.nonEmpty)
        Some(finish(changeFiles(c), c))
      else if (pureAppend(c))
        // read through the TARGET snapshot: files of any generation carry
        // physical names, so alignTo's mapping projects them to the
        // output (logical) names even across renames
        Some(finish(dfForFiles(alignTo, c.add)
          .withColumn(cc, lit("insert")), c))
      else if (metadataOnly(c)) None
      else {
        // overwrite-family: per-commit net diff over its churned files —
        // which needs the PREVIOUS snapshot; if log retention cleaned it
        // the diff is genuinely uncomputable, so state the contract
        // instead of surfacing snapshot()'s version-not-in-log error
        require(c.version == 0 || surviving.contains(c.version - 1),
          s"change feed for $path needs version ${c.version - 1} to diff " +
            s"the overwrite commit ${c.version}, but log retention " +
            "removed it; start the feed at a later version (streaming: " +
            "restart with a fresh checkpoint)")
        val prev = snapshot(Some(c.version - 1))
        val prevByPath = prev.files.map(f => f.path -> f).toMap
        val removedFiles = c.remove.flatMap(r => prevByPath.get(r.path))
        Some(finish(churnRows(alignData(dfForFiles(alignTo, c.add)),
          alignData(dfForFiles(alignTo, removedFiles)), signed), c))
      }
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      val tail =
        if (signed) Seq(StructField(Cdc.SignCol, LongType, nullable = false))
        else Seq(
          StructField(cc, StringType, nullable = false),
          StructField(Cdc.VersionCol, LongType, nullable = false),
          StructField(Cdc.TimestampCol, TimestampType, nullable = false))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(alignTo.schema.fields ++ tail))
    }
  }

  /** The change rows of one churned-file pair (rows of added files vs
    * rows of removed files, same schema), tagged with `_change_type`:
    * netted by a two-way EXCEPT ALL — carried-over rows cancel — or,
    * for the signed feed, every added row an insert and every removed
    * row a delete.
    */
  private def churnRows(
      added: DataFrame, removed: DataFrame, signed: Boolean): DataFrame = {
    val cc = Cdc.ChangeCol
    val (ins, del) =
      if (signed) (added, removed)
      else (added.exceptAll(removed), removed.exceptAll(added))
    ins.withColumn(cc, lit("insert"))
      .unionByName(del.withColumn(cc, lit("delete")))
  }

  /** Net row diff between two versions, from the CHURNED FILES ONLY —
    * the fallback feed (insert/delete; an update is its delete+insert
    * pair), or its signed form.
    */
  private def diffChanges(
      fromVersion: Long, toVersion: Long, signed: Boolean): DataFrame = {
    val fromSnap = snapshot(Some(fromVersion))
    val toSnap = snapshot(Some(toVersion))
    // file identity includes the deletion vector: a DV-only delete keeps
    // the path but changes live rows, so it must appear on both sides of
    // the diff (old state minus new state = the deleted rows)
    def ident(f: AddFile): (String, Option[graft.log.DvFile]) = (f.path, f.dv)
    val fromIds = fromSnap.files.map(ident).toSet
    val toIds = toSnap.files.map(ident).toSet
    val addedRows = dfForFiles(toSnap, toSnap.files.filterNot(f => fromIds(ident(f))))
    // read old files through the TARGET snapshot too: data files carry
    // physical names, so toSnap's mapping serves them under the current
    // logical names even across renames; evolution-added columns read as
    // nulls, dropped columns are projected away
    val removedRows = dfForFiles(toSnap, fromSnap.files.filterNot(f => toIds(ident(f))))
    val rows = churnRows(addedRows, removedRows, signed)
    if (signed)
      rows.select(toSnap.schema.map(f => col(f.name)) :+
        Cdc.signOf(col(Cdc.ChangeCol)).as(Cdc.SignCol): _*)
    else {
      // the whole-range diff spans several commits; provenance is pinned
      // to the range END ("net change as of toVersion")
      val endCommit = log.readCommit(toVersion)
      Cdc.stamp(rows, endCommit.version, endCommit.timestampMs)
    }
  }

  /** Deep clean: physically delete data files under the table root that
    * no surviving log entry references (their remove tombstones may have
    * been dropped by `CommitLog.cleanOldLogs`) and whose modification
    * time is older than `retainMillis` — the directory-listing posture of
    * Delta's VACUUM, as the complement to the log-driven
    * [[vacuumOlderThan]]. Internal dirs (`_graft_log`, `_staging-*`,
    * `_branches`) are never touched. Listing and deletion are
    * EXECUTOR-parallel (one listing task per top-level partition
    * directory, batched deletes) — at millions of files the previous
    * driver-side recursive walk plus serial deletes was hours of
    * single-threaded work; the driver now handles only the root's
    * direct children and the doomed-path result.
    */
  def vacuumOrphans(
      retainMillis: Long,
      nowMs: Long = System.currentTimeMillis(),
      /** Report what WOULD be deleted without touching anything. */
      dryRun: Boolean = false): Seq[String] = {
    val cutoff = nowMs - retainMillis
    // referenced = every add action of the SURVIVING commits PLUS the
    // oldest surviving snapshot's live set: after log retention, a file
    // added by a cleaned commit (and never removed) is referenced ONLY
    // through the boundary checkpoint — without the snapshot union the
    // sweep would delete live data files and corrupt the table
    val vs = log.versions()
    val referenced: Seq[String] =
      (vs.flatMap(v => log.readCommit(v).add.map(_.path)) ++
        vs.headOption.toSeq.flatMap(h =>
          log.snapshot(Some(h)).files.map(_.path))).distinct
    val fs = log.fs
    val qualifiedRoot = fs.makeQualified(new Path(path))
    val rootAbs = qualifiedRoot.toUri.getPath.stripSuffix("/")
    def isInternal(rel: String): Boolean =
      rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
    def candidate(rel: String, mtime: Long): Boolean =
      !isInternal(rel) && rel.endsWith(".parquet") && mtime < cutoff

    // one flat listing of the root on the driver: its direct files are
    // evaluated here; each non-internal DIRECTORY (= partition dir on a
    // hive layout) becomes one executor listing task — a million-file
    // table lists in parallel instead of one serial driver walk
    val top = fs.listStatus(new Path(path)).toSeq
    val (dirs, rootFiles) = top.partition(_.isDirectory)
    val candDirs = dirs.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    val driverCands: Seq[String] = rootFiles.flatMap { st =>
      val rel = st.getPath.toUri.getPath.stripPrefix(rootAbs).stripPrefix("/")
      if (candidate(rel, st.getModificationTime)) Some(rel) else None
    }

    // executor-side: recursive listing + candidate filter BEFORE any
    // collect, so only candidate rel-paths ever cross the wire; the
    // referenced set is anti-joined as a relation (never broadcast as a
    // giant driver set)
    val rootAbsL = rootAbs
    val cutoffL = cutoff
    val listed = org.apache.spark.sql.graft.GraftInternal
      .distributedListFiles(spark, candDirs.map(_.toString))
      .flatMap { case (abs, mtime) =>
        val rel = new Path(abs).toUri.getPath
          .stripPrefix(rootAbsL).stripPrefix("/")
        val internal = rel.split('/').exists(s =>
          s.startsWith("_") || s.startsWith("."))
        if (!internal && rel.endsWith(".parquet") && mtime < cutoffL)
          Some(rel)
        else None
      }
    import org.apache.spark.sql.Encoders
    val candDf = spark.createDataset(listed)(Encoders.STRING)
      .union(spark.createDataset(driverCands)(Encoders.STRING))
      .toDF("rel")
    val refDf = spark.createDataset(referenced)(Encoders.STRING).toDF("rel")
    val doomed = candDf.join(refDf, Seq("rel"), "left_anti")
      .as(Encoders.STRING).collect().toSeq.sorted
    if (dryRun) doomed
    else {
      // batched executor-side deletes (the driver loop was hours of
      // serial RPC at millions of files)
      val deleted = org.apache.spark.sql.graft.GraftInternal
        .distributedDelete(spark,
          doomed.map(rel => new Path(qualifiedRoot, rel).toString))
        .map(u => new Path(u).toUri.getPath
          .stripPrefix(rootAbs).stripPrefix("/")).toSet
      doomed.filter(deleted)
    }
  }

  /** Physically delete data files not live in any of the newest
    * `retainVersions` snapshots (they were logically removed earlier).
    * Time travel remains possible only within the retained window —
    * Delta's `VACUUM`, keyed on versions instead of wall-clock age.
    * Returns the deleted relative paths.
    */
  def vacuum(retainVersions: Int = 1): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the latest version")
    val vs = log.versions()
    val retained = vs.takeRight(retainVersions)
    val retainedFiles = retained.flatMap(v => log.snapshot(Some(v)).files)
    val live: Set[String] = retainedFiles.map(_.path).toSet
    // deletion-vector files are live iff a retained snapshot's add action
    // still points at them (superseded DVs age out with their versions)
    val liveDv: Set[String] = retainedFiles.flatMap(_.dv.map(_.path)).toSet
    val everAdded = vs.flatMap(v => log.readCommit(v).add.map(_.path)).distinct
    val everDv = vs.flatMap(v =>
      log.readCommit(v).add.flatMap(_.dv.map(_.path))).distinct
    val doomed = (everAdded.filterNot(live) ++ everDv.filterNot(liveDv))
      .filterNot(GraftTable.isExternalRef)
    val fs = log.fs
    // delete() returns false for already-gone files (prior vacuum)
    doomed.filter(rel => fs.delete(new Path(path, rel), false))
  }

  /** Delta's `GENERATE symlink_format_manifest`: write one manifest
    * text file per partition (hive dirs mirrored) under
    * `_symlink_format_manifest/`, each listing the partition's LIVE
    * data files as fully-qualified URIs — the layout
    * Presto/Trino/Athena's SymlinkTextInputFormat consumes, so
    * external engines can read the current snapshot without
    * understanding the commit log. Fully regenerated per call (stale
    * manifests removed first); shallow-clone external refs resolve to
    * their absolute source URIs. Refused on tables with live deletion
    * vectors: a symlink reader has no DV filter and would resurrect
    * deleted rows — purge first (OPTIMIZE rewrites DV'd files).
    * Returns the manifest paths written (relative to the table root).
    */
  def generateSymlinkManifest(): Seq[String] = {
    val snap = snapshot()
    require(snap.files.forall(_.dv.isEmpty),
      s"cannot generate a symlink manifest for $path: the snapshot has " +
        "files with deletion vectors (an external symlink reader would " +
        "resurrect deleted rows); run OPTIMIZE to purge them first")
    val fs = log.fs
    val qRoot = fs.makeQualified(new Path(path))
    val manifestRoot = new Path(qRoot, "_symlink_format_manifest")
    def partDir(f: AddFile): String =
      if (!GraftTable.isExternalRef(f.path))
        f.path.split('/').dropRight(1).mkString("/")
      else
        // external ref: rebuild hive dirs from partitionValues with
        // HIVE path escaping — the same escaping the table's own layout
        // uses (Clone's localization does exactly this), so a reader
        // decodes the same partition values; URL-encoding would turn a
        // space into '+' and silently change the value
        snap.partitionColumns.map { c =>
          val v = f.partitionValues.getOrElse(c, "__HIVE_DEFAULT_PARTITION__")
          s"$c=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)}"
        }.mkString("/")
    // write NEW manifests first (staged + renamed into place, so a
    // reader never sees a truncated file), THEN prune stale partition
    // dirs — a concurrent external reader always finds a complete
    // manifest set (Delta's GENERATE order); delete-all-then-write
    // would leave a zero-manifest window and a crash would strand it
    val fresh = snap.files.groupBy(partDir).toSeq.sortBy(_._1).map {
      case (dir, files) =>
        val rel =
          if (dir.isEmpty) "_symlink_format_manifest/manifest"
          else s"_symlink_format_manifest/$dir/manifest"
        val target = new Path(qRoot, rel)
        fs.mkdirs(target.getParent)
        val uris = files.map { f =>
          if (GraftTable.isExternalRef(f.path))
            fs.makeQualified(new Path(f.path)).toString
          else fs.makeQualified(new Path(qRoot, f.path)).toString
        }.sorted
        val tmp = new Path(target.getParent,
          s".manifest-tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        try out.write((uris.mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        // rename OVER the target first: on POSIX-rename stores the swap
        // is atomic — no missing-manifest window for a concurrent
        // external reader, and a crash never strands the partition
        // manifest-less. Only where the FS refuses to clobber fall back
        // to delete-then-rename (the old, windowed behavior).
        if (!fs.rename(tmp, target)) {
          fs.delete(target, false)
          if (!fs.rename(tmp, target))
            throw new java.io.IOException(s"cannot publish manifest $target")
        }
        rel
    }
    // prune stale partition manifests (partitions that no longer exist)
    val keep = fresh.map(r => new Path(qRoot, r).toUri.getPath).toSet
    if (fs.exists(manifestRoot)) {
      val it = fs.listFiles(manifestRoot, true)
      val stale = scala.collection.mutable.ArrayBuffer[Path]()
      while (it.hasNext) {
        val st = it.next()
        if (!keep(st.getPath.toUri.getPath)) stale += st.getPath
      }
      stale.foreach { p =>
        fs.delete(p, false)
        // drop the partition dir too when it just emptied (delete of a
        // non-empty dir fails non-recursively — exactly what we want)
        if (p.getParent != manifestRoot)
          try fs.delete(p.getParent, false)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    fresh
  }

  /** Wall-clock-retention vacuum — Delta's `VACUUM ... RETAIN n HOURS`:
    * physically delete files that were logically removed from the live
    * set by a commit older than `retainMillis` ago. Files of the current
    * snapshot are never touched (the live version cannot be vacuumed),
    * and a retention below [[GraftTable.MinRetentionMillis]] is refused
    * unless `enforceRetention = false` — the grace window is what keeps
    * a concurrent reader of a just-replaced snapshot from losing its
    * files mid-query. Returns the deleted relative paths.
    */
  def vacuumOlderThan(
      retainMillis: Long,
      nowMs: Long = System.currentTimeMillis(),
      enforceRetention: Boolean = true,
      /** Report what WOULD be deleted without touching anything
        * (Delta's `VACUUM ... DRY RUN`).
        */
      dryRun: Boolean = false): Seq[String] = {
    require(retainMillis >= 0, "retention must be non-negative")
    require(!enforceRetention || retainMillis >= GraftTable.MinRetentionMillis,
      s"retention ${retainMillis}ms is below the ${GraftTable.MinRetentionMillis}ms " +
        "safety floor (concurrent readers of recent snapshots would lose " +
        "files mid-query); pass enforceRetention = false to override")
    val cutoff = nowMs - retainMillis
    val liveFiles = snapshot().files
    val live: Set[String] = liveFiles.map(_.path).toSet
    val liveDv: Set[String] = liveFiles.flatMap(_.dv.map(_.path)).toSet
    // tombstone age = timestamp of the commit that removed the file; a
    // deletion-vector file is tombstoned when its data file's add action
    // is superseded by one pointing at a different (or no) DV, or when
    // the data path is removed without a re-add in the same commit
    val removedAt = scala.collection.mutable.LinkedHashMap[String, Long]()
    val currentDv = scala.collection.mutable.LinkedHashMap[String, String]()
    log.versions().map(log.readCommit).foreach { c =>
      c.remove.foreach { r =>
        removedAt(r.path) = c.timestampMs
        currentDv.remove(r.path).foreach(dv => removedAt(dv) = c.timestampMs)
      }
      c.add.foreach { a =>
        removedAt.remove(a.path) // re-added later => live path
        val newDv = a.dv.map(_.path)
        val oldDv = currentDv.get(a.path)
        if (oldDv != newDv)
          oldDv.foreach(dv => removedAt(dv) = c.timestampMs)
        newDv match {
          case Some(d) => currentDv(a.path) = d; removedAt.remove(d)
          case None => currentDv.remove(a.path)
        }
      }
    }
    val fs = log.fs
    val doomed = removedAt.iterator
      .collect { case (rel, ts) if ts < cutoff && !live(rel) && !liveDv(rel) => rel }
      .toSeq.filterNot(GraftTable.isExternalRef)
    if (dryRun) doomed.filter(rel => fs.exists(new Path(path, rel)))
    else doomed.filter(rel => fs.delete(new Path(path, rel), false))
  }
}

object GraftTable {
  /** Default vacuum retention floor (7 days, Delta's default). */
  val MinRetentionMillis: Long = 7L * 24 * 60 * 60 * 1000

  /** An add/remove action path that points OUTSIDE the table root — a
    * shallow clone's reference into its source table ([[Clone]]). Vacuum
    * must never physically delete these: the bytes belong to the source
    * (and possibly to other clones of it).
    */
  def isExternalRef(p: String): Boolean = {
    val hp = new Path(p)
    hp.isAbsolute || hp.toUri.getScheme != null
  }

  def apply(spark: SparkSession, path: String): GraftTable =
    new GraftTable(spark, path)

  def exists(spark: SparkSession, path: String): Boolean =
    new CommitLog(path, spark.sessionState.newHadoopConf()).tableExists()
}
