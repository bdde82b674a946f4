package graft.log

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.types.StructType

/** Per-column min/max/null-count for one data file (stringified for the
  * JSON log; typed back through the table schema at prune time) — the
  * data-skipping stats Delta keeps on add actions.
  */
final case class FileColStat(
    min: Option[String],
    max: Option[String],
    /** -1 = unknown (footer never recorded a count); never prune on it. */
    nullCount: Long)

/** Deletion vector attached to a data file: `path` (relative to the
  * table root, under `_dv/`) holds a serialized RoaringBitmap of the
  * file's DELETED row indexes; `cardinality` is its bit count. A file
  * with a DV serves `numRecords - cardinality` live rows — the
  * merge-on-read alternative to copy-on-write that keeps a point
  * DELETE on a 100 TB table from rewriting whole files.
  */
final case class DvFile(path: String, cardinality: Long)

/** One data file added to the table. `path` is relative to the table root
  * (hive-style partition dirs included). Partition values are stringified,
  * like Delta's add-action partitionValues. `numRecords` is the PHYSICAL
  * row count — subtract `dv.cardinality` for live rows.
  */
final case class AddFile(
    path: String,
    partitionValues: Map[String, String],
    sizeBytes: Long,
    numRecords: Long,
    modificationTime: Long,
    stats: Map[String, FileColStat] = Map.empty,
    /** Deletion vector; None = every physical row is live (absent in
      * pre-DV logs).
      */
    dv: Option[DvFile] = None,
    /** Cluster layout ("col1,col2") this file was WRITTEN under by an
      * OPTIMIZE cluster/Z-order pass — incremental clustering rewrites
      * only files NOT already in the declared layout, so maintenance on
      * a clusterBy table is O(new data), not O(table). None (absent in
      * older logs) = not known to be clustered.
      */
    clusteredBy: Option[String] = None,
    /** Row tracking (`graft.rowTracking`): the default row id of this
      * file's first physical row; row i defaults to `baseRowId + i`.
      * Assigned by [[CommitLog.commit]] from the carried high-water
      * mark. Files REWRITTEN by maintenance carry the preserved ids as
      * a materialized `__graft_row_id` column instead, which wins over
      * the default at read time. None (absent in pre-feature logs) =
      * no ids for this file.
      */
    baseRowId: Option[Long] = None,
    /** The commit version whose rows this file's DEFAULT row version is
      * (row tracking's `_graft_row_version` — "when was this row last
      * modified"). Stamped at REPLAY time for fresh adds (never written
      * into their commit json); an action RE-ADDING an existing file
      * (DV repoint, RESTORE, clone seed) carries the file's original
      * stamp forward in its json, so attaching a deletion vector or
      * restoring a version never changes surviving rows' versions.
      * Rewrites materialize carried rows' versions as a
      * `__graft_row_version` column that wins over this default. None
      * (pre-feature checkpoints) = NULL versions.
      */
    addedVersion: Option[Long] = None) {
  def liveRecords: Long = numRecords - dv.map(_.cardinality).getOrElse(0L)
}

/** Logical deletion of a previously added file. */
final case class RemoveFile(path: String)

/** Thrown by [[CommitLog.commit]] when an idempotent-writer transaction
  * (txnAppId/txnVersion) was already applied: the table's recorded
  * version for the appId is at-or-above the attempted one. Carries the
  * current table version so the caller can no-op at it.
  */
final class TxnAlreadyApplied(val tableVersion: Long)
    extends RuntimeException(
      s"transaction already applied; table at version $tableVersion")

/** One atomic commit: metadata + file actions.
  *
  * This is the native replacement for the Delta transaction log the
  * reference drives through delta-rs (capability surface used at
  * dagster_delta/handler.py:226-235,264-281 and resource.py:72-77):
  * versioned commits, schema tracking, partition columns, custom commit
  * metadata, and operation metrics.
  */
final case class Commit(
    version: Long,
    timestampMs: Long,
    operation: String,
    mode: String,
    schemaDdl: String,
    partitionColumns: Seq[String],
    metadata: Map[String, String],
    operationMetrics: Map[String, Long],
    add: Seq[AddFile],
    remove: Seq[RemoveFile],
    /** Change-data files under `_cdc/` for this commit (row-level
      * pre/postimages written by CDF-enabled DML/merge). Never part of
      * the live file set — only [[graft.io.GraftTable.tableChanges]]
      * reads them. Absent in pre-CDF commits.
      */
    cdc: Seq[AddFile] = Nil)

/** Materialized view of the log at a version. `commits` is the replay
  * suffix (everything after the checkpoint the snapshot was built from,
  * always non-empty and ending at `version`) — use
  * [[graft.io.GraftTable.history]] for the full audit trail.
  */
final case class Snapshot(
    version: Long,
    schema: StructType,
    partitionColumns: Seq[String],
    files: Seq[AddFile],
    commits: Seq[Commit]) {
  def isEmpty: Boolean = files.isEmpty
}

/** Periodic full-snapshot checkpoint: the live file set + schema at
  * `version`, so snapshot replay reads one checkpoint + O(interval)
  * commits instead of O(#commits) JSON files — the Delta checkpoint
  * pattern, essential once a streaming sink appends per micro-batch.
  */
final case class Checkpoint(
    version: Long,
    timestampMs: Long,
    schemaDdl: String,
    partitionColumns: Seq[String],
    files: Seq[AddFile])

/** Manifest of a SHARDED checkpoint (written once the live-file set
  * outgrows one JSON document): checkpoint metadata plus the shard
  * layout. The manifest is the checkpoint's atomic commit point — shards
  * land first, manifest last, so a reader either sees a complete
  * checkpoint or none. `numFiles` lets the reader detect shard loss or
  * a mixed-writer layout loudly instead of silently dropping files.
  */
final case class CheckpointManifest(
    version: Long,
    timestampMs: Long,
    schemaDdl: String,
    partitionColumns: Seq[String],
    numShards: Int,
    numFiles: Long)

/** Per-table JSON commit log under `<table>/_graft_log/vNNNNNNNNNN.json`.
  *
  * Single JSON document per version; atomic publication via
  * write-temp-then-link (hard-link on local POSIX, fail-if-exists
  * FileContext rename on HDFS-like stores — see [[publish]]). Concurrent
  * committers at the same version lose with
  * ConcurrentModificationException and retry after re-reading the
  * snapshot; a lakeFS-style CommitCoordinator can be layered on top (see
  * graft.manager).
  *
  * At 100 TB the log stays small: it holds file *metadata* only (a few
  * hundred bytes per data file). Snapshot replay reads the newest
  * checkpoint at or below the target version plus the commits after it
  * (at most `checkpointInterval` of them on a healthy log), same as
  * Delta's; only the full audit trail ([[graft.io.GraftTable.history]])
  * reads every commit. Every document goes through [[LogJson]].
  */
final class CommitLog(
    tablePath: String,
    conf: Configuration,
    /** Write a checkpoint every N commits; <= 0 disables. */
    checkpointInterval: Int = 10,
    /** Max add-actions per checkpoint document: a live-file set larger
      * than this writes as a manifest + N gzipped shards parsed in
      * PARALLEL at read time (one multi-GB single-threaded JSON parse
      * per cold snapshot was the driver bottleneck at ~10M files).
      * Sets at or under the threshold keep the single-file form.
      */
    checkpointShardRecords: Int = CommitLog.DefaultCheckpointShardRecords) {

  val root = new Path(tablePath)
  val logDir = new Path(root, "_graft_log")
  def fs: FileSystem = root.getFileSystem(conf)

  private def versionFile(v: Long): Path =
    new Path(logDir, f"v$v%010d.json")

  // checkpoints are gzipped (a 100 TB table's checkpoint carries every
  // live file's metadata — ~10× smaller on the wire and on listing-
  // heavy stores)
  private def checkpointFile(v: Long): Path =
    new Path(logDir, f"ckpt-v$v%010d.json.gz")

  // suffixes deliberately NOT ending in .json/.json.gz: pre-sharding
  // builds glob exactly those, so they skip sharded artifacts entirely
  // and fall back to an older readable checkpoint (or fail loudly at
  // the retention require) instead of crashing on the file name
  private def manifestFile(v: Long): Path =
    new Path(logDir, f"ckpt-v$v%010d.manifest")

  private def shardFile(v: Long, i: Int): Path =
    new Path(logDir, f"ckpt-v$v%010d.shard-$i%05d.gz")

  /** Names in the log dir; empty if the table doesn't exist. One
    * `listStatus`, with no `exists` probe ahead of it.
    */
  private def listNames(): Seq[String] =
    try fs.listStatus(logDir).toSeq.map(_.getPath.getName)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** One listing's committed versions (sorted) and checkpoints: version
    * → sharded (a manifest is present; it wins over a single gzip of
    * the same version). Shard files do not mark a checkpoint — only
    * their manifest does (shards land first; the manifest is the atomic
    * commit point).
    */
  private def listing(): (Seq[Long], scala.collection.immutable.SortedMap[Long, Boolean]) = {
    val names = listNames()
    val vs = names.collect { case n if n.startsWith("v") && n.endsWith(".json") =>
      n.stripPrefix("v").stripSuffix(".json").toLong
    }.sorted
    val ckpts = names
      .collect { case n if n.startsWith("ckpt-v") =>
        val core = n.stripPrefix("ckpt-v")
        (core.takeWhile(_.isDigit), core.dropWhile(_.isDigit))
      }
      .collect {
        case (digits, suffix) if digits.nonEmpty &&
            (suffix == ".json.gz" || suffix == ".manifest") =>
          (digits.toLong, suffix == ".manifest")
      }
      .groupMapReduce(_._1)(_._2)(_ || _)
    (vs, scala.collection.immutable.SortedMap.from(ckpts))
  }

  /** Sorted list of committed versions; empty if the table doesn't exist. */
  def versions(): Seq[Long] = listing()._1

  def latestVersion(): Option[Long] = versions().lastOption

  def tableExists(): Boolean = latestVersion().isDefined

  private def gunzip(p: Path): java.io.InputStream =
    new java.util.zip.GZIPInputStream(fs.open(p), 65536)

  def readCommit(v: Long): Commit = LogJson.decode[Commit](fs.open(versionFile(v)))

  /** Union of `key`'s records folded out of retention-pruned commits
    * (see [[CommitLog.RetentionFoldedKeys]]) across every
    * `folded-meta-v*.json` sidecar — each later sidecar is a superset
    * of earlier ones, but unioning all of them also absorbs any sidecar
    * a racing retention pass landed.
    */
  def foldedMetadata(key: String): Set[String] =
    listNames().iterator
      .filter(_.matches("""folded-meta-v\d+\.json"""))
      .flatMap { n =>
        LogJson.decode[Map[String, String]](fs.open(new Path(logDir, n)))
          .get(key).iterator
          .flatMap(_.split("\n").iterator.filter(_.nonEmpty))
      }
      .toSet

  /** Sorted checkpoint versions present in the log dir (either form:
    * sharded manifest or single gzip).
    */
  def checkpointVersions(): Seq[Long] = listing()._2.keys.toSeq

  def readCheckpoint(v: Long): Checkpoint =
    readCheckpoint(v, sharded = fs.exists(manifestFile(v)))

  private def readCheckpoint(v: Long, sharded: Boolean): Checkpoint =
    if (sharded) readShardedCheckpoint(v)
    else LogJson.decode[Checkpoint](gunzip(checkpointFile(v)))

  /** Parse a sharded checkpoint's shards in PARALLEL (one thread per
    * shard up to the core count — the wall-clock win this format
    * exists for) and validate the reassembled file count against the
    * manifest; any missing/corrupt/miscounted shard throws, so
    * [[snapshot]]'s fallback tries the next older checkpoint instead of
    * replaying a silently incomplete live set.
    */
  private def readShardedCheckpoint(v: Long): Checkpoint = {
    val m = LogJson.decode[CheckpointManifest](fs.open(manifestFile(v)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(m.numShards,
        Runtime.getRuntime.availableProcessors())))
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val futs = (0 until m.numShards).map { i =>
        Future(LogJson.decode[Seq[AddFile]](gunzip(shardFile(v, i))))
      }
      val files = Await.result(
        Future.sequence(futs), scala.concurrent.duration.Duration.Inf).flatten
      require(files.size == m.numFiles,
        s"checkpoint v$v at $tablePath: shards hold ${files.size} files, " +
          s"manifest expects ${m.numFiles} — shard loss or mixed writers")
      Checkpoint(m.version, m.timestampMs, m.schemaDdl, m.partitionColumns,
        files)
    } finally pool.shutdown()
  }

  /** Replay the log up to `versionAsOf` (inclusive; latest when None).
    * Starts from the newest checkpoint at or before the target, so
    * driver-side replay cost is O(checkpointInterval), not O(#commits).
    * The checkpoint-version commit is re-applied — actions are
    * idempotent map upserts/deletes — which also guarantees
    * `Snapshot.commits` is non-empty.
    */
  def snapshot(versionAsOf: Option[Long] = None): Snapshot = {
    val (vs, checkpoints) = listing()
    require(vs.nonEmpty, s"graft table does not exist at $tablePath")
    val upTo = versionAsOf match {
      case Some(v) =>
        require(vs.contains(v), s"version $v not in log (have ${vs.head}..${vs.last})")
        vs.filter(_ <= v)
      case None => vs
    }
    val target = upTo.last
    // newest readable checkpoint at or below the target; a corrupt one
    // falls back to the NEXT older, and running out of checkpoints is
    // only acceptable when the log still reaches back to version 0 —
    // a retention-cleaned log replayed from its oldest surviving commit
    // with an empty live map would silently drop every pre-boundary
    // file, so fail loudly instead
    val ckpt: Option[Checkpoint] = checkpoints.toSeq
      .filter { case (v, _) => v <= target && vs.contains(v) }
      // an older checkpoint only replays correctly when EVERY commit
      // after it survives (commit versions are dense, so count suffices)
      .filter { case (v, _) => upTo.count(_ > v) == target - v }
      .reverseIterator
      .map { case (v, sharded) =>
        try Some(readCheckpoint(v, sharded))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      .collectFirst { case Some(c) => c }
    require(ckpt.isDefined || upTo.head == 0L,
      s"graft table at $tablePath: no readable checkpoint at or below " +
        s"version $target and the log starts at version ${upTo.head} " +
        "(retention-cleaned) — a replay would silently miss files")
    val live = scala.collection.mutable.LinkedHashMap[String, AddFile]()
    ckpt.foreach(_.files.foreach(a => live(a.path) = a))
    val replayFrom = ckpt.map(_.version).getOrElse(0L)
    val commits = upTo.filter(_ >= replayFrom).map(readCommit)
    commits.foreach { c =>
      c.remove.foreach(r => live.remove(r.path))
      // stamp each fresh add with its commit version (the row-version
      // default); re-adds that already carry a stamp keep it — a DV
      // repoint / RESTORE must not bump surviving rows' versions
      c.add.foreach(a => live(a.path) =
        a.copy(addedVersion = a.addedVersion.orElse(Some(c.version))))
    }
    val last = commits.last
    // feature gate: refuse to serve a snapshot this build would misread
    // (e.g. a DV table read by a pre-DV build would resurrect deleted
    // rows) — checked against the properties AT the replayed version, so
    // time travel below a feature's introduction stays readable
    Protocol.check(last.metadata, Protocol.ReaderFeaturesKey,
      Protocol.SupportedReaderFeatures, "read", tablePath)
    Snapshot(
      last.version,
      StructType.fromDDL(last.schemaDdl),
      last.partitionColumns,
      live.values.toSeq,
      commits)
  }

  /** Delete log entries that are both superseded by a checkpoint and
    * older than `retainMillis` — Delta's log-retention cleanup, which is
    * what bounds `_graft_log/` growth when a streaming sink commits per
    * micro-batch. The newest checkpoint older than the cutoff becomes
    * the replay boundary: it and everything after it are kept; commits
    * and checkpoints below it are deleted (time travel below the
    * boundary becomes unavailable — the standard retention tradeoff).
    * Returns the deleted file names.
    */
  def cleanOldLogs(
      retainMillis: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    require(retainMillis >= 0, "retention must be non-negative")
    val cutoffTs = nowMs - retainMillis
    val (vs, checkpoints) = listing()
    val boundary = checkpoints.keys.toSeq
      .filter(v => vs.contains(v))
      .filter(v => readCommit(v).timestampMs < cutoffTs)
      .lastOption
    boundary match {
      case None => Nil
      case Some(b) =>
        // retention-folded metadata (COPY INTO identity records): union
        // the doomed commits' values into the per-boundary sidecar
        // BEFORE deleting — writeFileAtomic throws rather than lose the
        // fold, and the cleanup below must not run without it (pruning the
        // commits with no fold is exactly the silent re-ingest case).
        // A fresh file per boundary (monotone) sidesteps rename-over-
        // existing-target semantics differing across filesystems;
        // re-running with the same boundary finds no doomed commits and
        // writes nothing.
        val foldable = {
          val acc = scala.collection.mutable.Map.empty[String, Set[String]]
          vs.filter(_ < b).foreach { v =>
            val m = readCommit(v).metadata
            CommitLog.RetentionFoldedKeys.foreach { k =>
              m.get(k).filter(_.nonEmpty).foreach { s =>
                acc(k) = acc.getOrElse(k, Set.empty) ++
                  s.split("\n").iterator.filter(_.nonEmpty)
              }
            }
          }
          acc.map { case (k, s) => k -> s.toSeq.sorted.mkString("\n") }.toMap
        }
        if (foldable.nonEmpty)
          writeFileAtomic(LogJson.encode(foldable),
            new Path(logDir, s"folded-meta-v$b.json"))
        // checkpoint artifacts are matched by prefix so every form goes
        // (single gzip, sharded manifest + shard files)
        val oldCkptArtifacts = fs.listStatus(logDir).iterator
          .map(_.getPath)
          .filter { p =>
            val n = p.getName
            n.startsWith("ckpt-v") && {
              val digits = n.stripPrefix("ckpt-v").takeWhile(_.isDigit)
              digits.nonEmpty && digits.toLong < b
            }
          }
          .toSeq
        val doomed = vs.filter(_ < b).map(versionFile) ++ oldCkptArtifacts
        doomed.filter(p => fs.delete(p, false)).map(_.getName)
    }
  }

  /** Write the checkpoint for `v` (idempotent — content is a pure
    * function of the log at `v`; overwrite is safe). Live sets beyond
    * `checkpointShardRecords` write as shards + manifest (parallel
    * parse at read time); shards land first, the manifest last, so a
    * concurrent reader never sees a partial checkpoint.
    */
  def writeCheckpoint(v: Long): Unit = {
    val snap = snapshot(Some(v))
    val ts = System.currentTimeMillis()
    if (snap.files.size > checkpointShardRecords) {
      // A crashed earlier attempt (possibly under a different
      // checkpointShardRecords) may have left shards for this version;
      // writeFileAtomic keeps an existing target on rename loss, so a
      // retry would otherwise mix stale old-layout shards with the new
      // manifest and leave ckpt-v permanently unreadable. Clear the
      // manifest FIRST (readers fall back to log replay — safe, the
      // checkpoint is a pure cache), then every shard for this version.
      val prefix = f"ckpt-v$v%010d.shard-"
      fs.delete(manifestFile(v), false)
      fs.listStatus(logDir).iterator
        .map(_.getPath)
        .filter(_.getName.startsWith(prefix))
        .foreach(fs.delete(_, false))
      val shards = snap.files.grouped(checkpointShardRecords).toSeq
      // shards serialize+write in parallel (same pool shape as the
      // parallel read); the manifest lands LAST — the commit point
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(shards.size,
          Runtime.getRuntime.availableProcessors())))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.sequence(shards.zipWithIndex.map { case (part, i) =>
          Future {
            writeFileAtomic(gzipped(part), shardFile(v, i))
          }
        }), scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
      val m = CheckpointManifest(v, ts, snap.schema.toDDL,
        snap.partitionColumns, shards.size, snap.files.size.toLong)
      writeFileAtomic(LogJson.encode(m), manifestFile(v))
    } else {
      val c = Checkpoint(v, ts, snap.schema.toDDL,
        snap.partitionColumns, snap.files)
      writeFileAtomic(gzipped(c), checkpointFile(v))
    }
  }

  private def gzipped[A: LogJson.Codec](a: A): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out, 65536)
    try LogJson.encodeTo(a, gz)
    finally gz.close()
    out.toByteArray
  }

  /** Stage `bytes` and rename into `target` — atomic publication for
    * files whose content is a PURE FUNCTION of the log (checkpoints,
    * folded-metadata sidecars): a reader never sees a partial write, and a
    * rename losing to an existing `target` is success (any complete
    * copy is equivalent — the existing one is kept, never deleted, so
    * there is no window with no file at all). Throws when the rename
    * fails with no complete copy in place; the staged temp never leaks.
    */
  private def writeFileAtomic(bytes: Array[Byte], target: Path): Unit = {
    val tmp = new Path(logDir, s".tmp-ckpt-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(bytes)
    finally out.close()
    val renamed = try fs.rename(tmp, target)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!renamed) {
      try fs.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => () }
      if (!fs.exists(target))
        throw new java.io.IOException(s"cannot publish $target")
    }
  }

  /** Active table properties (reserved `graft.constraint.*` etc.): the
    * reserved keys of the LATEST commit's metadata. Every commit carries
    * them forward (see [[commit]]), so they survive checkpoint-based
    * replay and log retention without any checkpoint format change.
    */
  def tableProperties(): Map[String, String] =
    latestVersion().map(tablePropertiesAt).getOrElse(Map.empty)

  /** Table properties as of a specific version (time-travel/clone view —
    * properties are per-version metadata, carried forward by [[commit]]).
    */
  def tablePropertiesAt(version: Long): Map[String, String] =
    CommitLog.properties(readCommit(version))

  /** Atomically publish the next commit. Returns the committed version.
    * Fails if `expectedVersion` was taken (optimistic concurrency; the
    * caller retries after re-reading the snapshot).
    *
    * Reserved `graft.`-prefixed metadata keys are table PROPERTIES:
    * previous values are carried into every new commit automatically;
    * a caller-supplied empty value drops the property.
    *
    * `expectedVersion` is the compare-and-swap guard for commits whose
    * ACTIONS were derived from a snapshot (copy-on-write rewrites,
    * overwrite/replaceWhere removal sets, restore): the commit lands at
    * exactly `expectedVersion + 1` and fails with
    * ConcurrentModificationException if any commit slipped in between —
    * without it, a stale-snapshot rewrite would silently drop the
    * concurrent commit's changes (blind appends commute and pass None).
    */
  def commit(
      operation: String,
      mode: String,
      schemaDdl: String,
      partitionColumns: Seq[String],
      metadata: Map[String, String],
      operationMetrics: Map[String, Long],
      add: Seq[AddFile],
      remove: Seq[RemoveFile],
      expectedVersion: Option[Long] = None,
      cdc: Seq[AddFile] = Nil,
      /** Idempotent-writer transaction (appId, version): the
        * already-applied check runs HERE, between reading the head and
        * the atomic publish, and the `graft.txn.<appId>` marker merges
        * into this commit's carried properties — check and record are
        * one atomic unit. Already applied → [[TxnAlreadyApplied]]
        * (caller cleans its staged files and no-ops); a racer landing
        * between the check and the publish fails THIS publish, and the
        * caller's ordinary retry re-enters the check. Blind appends
        * keep commuting: no expectedVersion needed.
        */
      txn: Option[(String, Long)] = None): Long = {
    val latest = latestVersion()
    if (latest.isEmpty) fs.mkdirs(logDir)
    // the head, read once: the txn check, the carried properties and
    // the previous in-commit timestamp all come from it
    val head = latest.map(readCommit)
    val props = head.map(CommitLog.properties).getOrElse(Map.empty)
    txn.foreach { case (appId, ver) =>
      val seen = props.get(CommitLog.txnKey(appId)).map(_.toLong)
      if (seen.exists(_ >= ver)) throw new TxnAlreadyApplied(latest.get)
    }
    expectedVersion.foreach { exp =>
      if (latest.exists(_ != exp))
        throw new java.util.ConcurrentModificationException(
          s"expected version $exp but log is at ${latest.get} for $tablePath")
    }
    val v = expectedVersion.map(_ + 1)
      .orElse(latest.map(_ + 1)).getOrElse(0L)
    // feature gate: refuse to modify a table whose invariants depend on
    // features this build doesn't implement (e.g. compacting a DV'd file
    // without understanding DVs would resurrect its deleted rows)
    Protocol.check(props, Protocol.WriterFeaturesKey,
      Protocol.SupportedWriterFeatures, "modify", tablePath)
    val txnMeta = txn.map { case (appId, ver) =>
      CommitLog.txnKey(appId) -> ver.toString
    }.toMap
    val mergedMeta0 = CommitLog.advanceHwms(props,
      (props ++ metadata ++ txnMeta).filterNot { case (k, value) =>
        k.startsWith(CommitLog.ReservedPrefix) && value.isEmpty // "" = drop property
      })
    // auto-register the deletionVectors feature the first time a commit
    // attaches a DV: from then on, pre-DV builds fail loudly instead of
    // serving deleted rows (features are append-only — older versions of
    // the table stay time-travelable because the check uses per-version
    // metadata)
    val mergedMeta1 =
      if (!add.exists(_.dv.isDefined)) mergedMeta0
      else Seq(Protocol.ReaderFeaturesKey, Protocol.WriterFeaturesKey)
        .foldLeft(mergedMeta0) { (m, k) =>
          m.updated(k, Protocol.render(Protocol.parse(m, k) + Protocol.DeletionVectors))
        }
    // row tracking: assign each new add action its base row id from the
    // carried high-water mark, atomically with the commit that lands the
    // files (adds that already carry one — none today — keep it). The
    // feature auto-registers on the WRITER side only: older builds read
    // these tables fine, they just cannot project row ids.
    val rowTrackingOn =
      mergedMeta1.get(CommitLog.RowTrackingKey).exists(_.trim.toBoolean)
    val (addFinal, mergedMeta) =
      if (!rowTrackingOn) (add, mergedMeta1)
      else {
        var hwm = mergedMeta1.get(CommitLog.RowIdHwmKey).map(_.toLong).getOrElse(-1L)
        val assigned = add.map { f =>
          if (f.baseRowId.isDefined) f
          else {
            val base = hwm + 1
            // an empty file still consumes one slot so two empty files
            // can never share a base
            hwm = base + math.max(f.numRecords, 1L) - 1
            f.copy(baseRowId = Some(base))
          }
        }
        val registered = mergedMeta1.updated(Protocol.WriterFeaturesKey,
          Protocol.render(Protocol.parse(mergedMeta1, Protocol.WriterFeaturesKey) +
            Protocol.RowTracking + Protocol.RowVersions))
        (assigned, registered.updated(CommitLog.RowIdHwmKey, hwm.toString))
      }
    // in-commit timestamps are MONOTONE per table (Delta's in-commit
    // timestamp contract): ts(v) = max(now, ts(v-1)+1). A writer whose
    // wall clock lags a previous writer's (skew, log copy/restore) can
    // therefore never make TIMESTAMP AS OF / startingTimestamp / CDF
    // `_commit_timestamp` ambiguous — the sequence the binary searches
    // assume is strictly increasing by construction, not by luck. The
    // head is version v - 1 whenever it exists (an expectedVersion that
    // differs from it threw above).
    val prevTs = head.map(_.timestampMs).getOrElse(Long.MinValue)
    val ts = math.max(System.currentTimeMillis(), prevTs + 1)
    val c = Commit(v, ts, operation, mode, schemaDdl,
      partitionColumns, mergedMeta, operationMetrics, addFinal, remove, cdc)
    val tmp = new Path(logDir, s".tmp-${java.util.UUID.randomUUID()}.json")
    val out = fs.create(tmp, false)
    try LogJson.encodeTo(c, out)
    finally out.close()
    publish(tmp, versionFile(v), v)
    if (checkpointInterval > 0 && v > 0 && v % checkpointInterval == 0) {
      // best-effort: a failed checkpoint only costs replay time
      try writeCheckpoint(v)
      catch { case scala.util.control.NonFatal(_) => () }
    }
    v
  }

  /** Commit with conflict-checked REBASE instead of blind CAS failure:
    * run `attempt` (which must call [[commit]] with the given
    * `expectedVersion`); when the CAS loses, read the commits that won
    * the race and ask [[ConflictCheck]] whether they logically conflict
    * with what this transaction read and writes. If they commute, retry
    * the SAME actions at the new head — zero recompute (the staged data
    * files and derived action set stay valid); if they conflict, the
    * typed [[GraftConcurrencyException]] propagates so the caller's
    * re-derive loop (or the user) can react to what actually raced.
    *
    * `base` is the snapshot the transaction derived its actions from.
    */
  def commitOrRebase(
      profile: TxnProfile,
      base: Snapshot,
      maxRebases: Int = 10)(attempt: Long => Long): Long = {
    val baseCommit = base.commits.last
    val baseProps = CommitLog.properties(baseCommit)
    val baseDvCard: Map[String, Long] =
      base.files.map(f => f.path -> f.dv.map(_.cardinality).getOrElse(0L)).toMap
    var expected = base.version
    var rebases = 0
    while (true) {
      try return attempt(expected)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (e.isInstanceOf[GraftConcurrencyException] || rebases >= maxRebases)
            throw e
          val latest = latestVersion().getOrElse(throw e)
          if (latest <= expected) throw e // CAS failed for another reason
          val winners = ((expected + 1) to latest).map(readCommit)
          // throws the typed conflict when a rebase would be unsound
          ConflictCheck.check(profile, baseCommit.schemaDdl, baseProps,
            baseDvCard, winners, tablePath)
          expected = latest
          rebases += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Atomic commit point: make `tmp` visible as `target`, failing (not
    * overwriting) if `target` already exists. Delegated to the
    * conf-selected [[LogStore]] (`graft.logstore.impl`): atomic
    * fail-if-exists rename by default, a staged put-if-absent strategy
    * for object stores without one. Losers get
    * ConcurrentModificationException, which GraftWriter's optimistic
    * retry loop and RetryingCoordinator are built on — a silent
    * overwrite (lost commit) is the one outcome every implementation
    * must rule out.
    */
  private def publish(tmp: Path, target: Path, v: Long): Unit =
    LogStore.forConf(conf).publish(fs, conf, tmp, target,
      s"version $v for $tablePath")
}

object CommitLog {
  /** Metadata keys under this prefix are table properties: carried
    * forward into every commit, dropped by committing an empty value.
    */
  val ReservedPrefix = "graft."

  /** The table properties a commit carries: its reserved-key metadata. */
  def properties(c: Commit): Map[String, String] =
    c.metadata.filter { case (k, _) => k.startsWith(ReservedPrefix) }

  /** Default max add-actions per checkpoint document before sharding
    * kicks in. The parse of a checkpoint is most of a cold open: a
    * 20k-file table whose checkpoint is one 5.7 MB JSON document (adds
    * with per-column stats) opened in ~48 ms, decoding it on one
    * thread; at 5,000 adds per shard it writes 4 shards, decoded on all
    * 4 cores of the same machine, and opens in ~30 ms. A 10M-file table
    * writes 2,000. Tables at or under one shard (most small tables)
    * keep the single-document form, and a single document of any size
    * still reads.
    */
  val DefaultCheckpointShardRecords: Int = 5000

  /** Key for a named CHECK constraint (value = its SQL expression). */
  def constraintKey(name: String): String = s"${ReservedPrefix}constraint.$name"

  /** Idempotent-writer transaction markers (Delta's `txn` /
    * SetTransaction action): `graft.txn.<appId>` carries the highest
    * transaction version an application has committed. As a carried
    * property it rides every commit AND every checkpoint, so the
    * guarantee survives log retention with no extra machinery.
    */
  val TxnPrefix: String = s"${ReservedPrefix}txn."

  def txnKey(appId: String): String = {
    require(appId.nonEmpty, "txnAppId must be non-empty")
    TxnPrefix + appId
  }

  /** Row tracking opt-in (`"true"` enables id assignment + rewrite
    * materialization) and its carried id high-water mark.
    */
  val RowTrackingKey: String = s"${ReservedPrefix}rowTracking"
  val RowIdHwmKey: String = s"${ReservedPrefix}rowIdHwm"

  /** Per-commit (non-carried) metadata keys whose records must SURVIVE
    * log retention: before pruning, [[CommitLog.cleanOldLogs]] unions
    * the doomed commits' values (newline-joined sets) into a
    * `folded-meta-v<boundary>.json` sidecar that
    * [[CommitLog.foldedMetadata]] reads back. COPY INTO's ingested
    * identities live here — without the fold, pruning an old COPY INTO
    * commit would silently forget its files and a later run would
    * re-ingest them as duplicates (the key string is
    * [[graft.io.CopyInto.SourcesKey]]; duplicated literally to keep the
    * log layer free of io imports).
    */
  val RetentionFoldedKeys: Set[String] = Set("copyInto.ingestedSources")

  /** Identity-column declarations (`graft.identity.<col>` = "start,step")
    * and their high-water marks (`graft.identity.<col>.hwm`). The
    * property-name convention lives here because the LOG layer needs it:
    * hwm values are monotone operational counters — [[CommitLog.commit]]
    * must never let a racer's stale value regress one, and
    * [[ConflictCheck]] must not treat an advance as a schema-shaped
    * metadata change.
    */
  val IdentityPrefix: String = s"${ReservedPrefix}identity."
  def isHwmKey(k: String): Boolean =
    k.startsWith(IdentityPrefix) && k.endsWith(".hwm")

  /** step (sign decides the advance direction) of the identity column a
    * hwm key belongs to; None when unparseable.
    */
  private[log] def stepOf(props: Map[String, String], hwmKey: String): Option[Long] =
    props.get(hwmKey.stripSuffix(".hwm"))
      .map(_.split(",").map(_.trim))
      .collect { case Array(_, s) if s.matches("-?\\d+") => s.toLong }

  /** Merge incoming hwm values with the CURRENT ones, keeping whichever
    * is further advanced (max for positive step, min for negative): a
    * writer whose hwm was computed against a stale snapshot can then
    * never roll back a newer allocation — the commit-time counterpart
    * of the CAS that identity-ASSIGNING writes take.
    */
  private[log] def advanceHwms(
      current: Map[String, String],
      merged: Map[String, String]): Map[String, String] =
    merged.map {
      case (k, v) if isHwmKey(k) && current.contains(k) &&
          v.matches("-?\\d+") && current(k).matches("-?\\d+") =>
        val step = stepOf(merged, k).orElse(stepOf(current, k)).getOrElse(1L)
        val best =
          if (step >= 0) math.max(v.toLong, current(k).toLong)
          else math.min(v.toLong, current(k).toLong)
        k -> best.toString
      case kv => kv
    }
}

/** Protocol feature gates (Delta's reader/writer table features).
  *
  * A table lists the features a client MUST understand to read
  * (`graft.readerFeatures`) or modify (`graft.writerFeatures`) it, as
  * comma-separated carried-forward properties. Enforcement is the whole
  * point: a graft build that predates deletion vectors must FAIL on a
  * DV table, not silently serve deleted rows — same for any future
  * format feature. Tables written before this mechanism carry no
  * feature properties and replay unchecked (vacuously compatible).
  *
  * Features auto-register the first time a commit uses the capability
  * (see [[CommitLog.commit]] for deletion vectors) and stay until
  * `DROP FEATURE` proves the capability unused across the RETAINED log
  * ([[graft.io.Alter.dropFeature]]); per-version metadata keeps older,
  * pre-drop versions correctly gated for time travel either way.
  */
object Protocol {
  val ReaderFeaturesKey: String = CommitLog.ReservedPrefix + "readerFeatures"
  val WriterFeaturesKey: String = CommitLog.ReservedPrefix + "writerFeatures"

  val DeletionVectors = "deletionVectors"

  /** ALTER COLUMN type widening: files written before the widening keep
    * their narrow parquet type and reads reconcile per file generation —
    * a reader unaware of the feature could mis-plan the narrow files
    * (or fail on the type mismatch), so widened tables gate both sides.
    */
  val TypeWidening = "typeWidening"

  /** Row tracking: every add action carries a `baseRowId` and rewrites
    * materialize preserved ids into the files — a writer unaware of the
    * feature would commit files with no ids (breaking uniqueness) or
    * compact without materializing (losing stability), so it gates the
    * WRITE side only; reads by older builds are unaffected (they simply
    * cannot project row ids).
    */
  val RowTracking = "rowTracking"

  /** Row COMMIT VERSIONS (`_graft_row_version`): rewrites must
    * materialize carried rows' versions (`__graft_row_version`) or a
    * compaction by a versions-unaware build would silently reset every
    * carried row's version to the compaction commit — so it gates the
    * WRITE side separately from [[RowTracking]] (an ids-only build
    * passes the rowTracking gate but would still corrupt versions).
    */
  val RowVersions = "rowVersions"

  /** Everything this build can READ correctly. */
  val SupportedReaderFeatures: Set[String] = Set(DeletionVectors, TypeWidening)

  /** Everything this build can WRITE without corrupting invariants a
    * feature imposes (a writer that ignores DVs would e.g. compact a
    * file and resurrect its deleted rows).
    */
  val SupportedWriterFeatures: Set[String] =
    Set(DeletionVectors, TypeWidening, RowTracking, RowVersions)

  def parse(metadata: Map[String, String], key: String): Set[String] =
    metadata.get(key).toSet[String]
      .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))

  def render(features: Set[String]): String = features.toSeq.sorted.mkString(",")

  /** Fail unless every feature the table demands for `verb` (via `key`)
    * is in this build's `supported` set.
    */
  def check(
      metadata: Map[String, String],
      key: String,
      supported: Set[String],
      verb: String,
      tablePath: String): Unit = {
    val unknown = parse(metadata, key) -- supported
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"cannot $verb graft table at $tablePath: it requires table " +
          s"feature(s) ${unknown.toSeq.sorted.mkString(", ")} this build does " +
          s"not support (supported: ${supported.toSeq.sorted.mkString(", ")})")
  }
}
