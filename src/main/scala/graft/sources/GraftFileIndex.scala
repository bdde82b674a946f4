package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.io.{DataFilter, DataSkipping, PartitionPredicate, SkipOp}
import graft.log.{AddFile, Snapshot}

/** FileIndex over commit-log metadata: the snapshot's add actions already
  * carry every path, size, mtime, partition value, and per-column
  * min/max, so planning a scan costs ZERO filesystem calls — no
  * directory listing, no per-file stat (InMemoryFileIndex stats each
  * file up front; on an object store with millions of files that is the
  * dominant planning cost — this is Delta's TahoeFileIndex role).
  *
  * `listFiles` prunes driver-side through [[graft.io.DataSkipping.pruner]],
  * the pruner the conflict checks and merge key ranges share:
  *   - partition pruning: catalyst partition filters interpreted (no
  *     generated class per literal) once per distinct partition-value
  *     map by [[graft.io.PartitionPredicate]];
  *   - data skipping: comparison filters against footer min/max stats
  *     drop whole files, then declared bloom columns answer `=`/`IN`
  *     probes. Unsupported filter shapes simply skip nothing — Spark
  *     re-applies all filters above the scan.
  */
final class GraftFileIndex(
    spark: SparkSession,
    tablePath: String,
    snap: Snapshot,
    /** Row-tracking reads: additionally surface each file's commit-log
      * `baseRowId` as a synthetic per-file constant "partition" column
      * ([[graft.io.RowTracking.BaseCol]], NULL for pre-feature files).
      * Partition values ride per split in `PartitionedFile` — a task
      * sees only the bases of its own files, so (unlike a plan-embedded
      * path→base map) the shape is O(1) per task at any file count.
      */
    withBaseRowIdCol: Boolean = false) extends FileIndex {

  private val declaredPartitionSchema: StructType = PartitionPredicate.schemaOf(snap)

  override val partitionSchema: StructType =
    if (!withBaseRowIdCol) declaredPartitionSchema
    else StructType(declaredPartitionSchema.fields ++ Seq(
      org.apache.spark.sql.types.StructField(
        graft.io.RowTracking.BaseCol,
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField(
        graft.io.RowTracking.BaseVersionCol,
        org.apache.spark.sql.types.LongType, nullable = true)))

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  /** The table path / snapshot version this index plans over — the
    * identity [[graft.plans.MatviewRewriteRule]] keys its freshness
    * check on (a rewrite is legal only when the view's watermark equals
    * the EXACT version this scan was planned against).
    */
  private[graft] def scannedTablePath: String = tablePath
  private[graft] def scannedVersion: Long = snap.version

  private val zone = spark.sessionState.conf.sessionLocalTimeZone

  /** Typed partition value row per distinct partition-dir value map
    * (per FILE under `withBaseRowIdCol` — each file's base is its own
    * constant).
    */
  private lazy val dirs: Seq[(InternalRow, Seq[AddFile])] =
    PartitionPredicate.rows(declaredPartitionSchema, snap.files, zone, withBaseRowIdCol)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    prunedAdds(partitionFilters, dataFilters).map { case (row, kept) =>
      PartitionDirectory(row, kept.map(status).toArray)
    }

  /** The add actions surviving partition pruning + footer-stats/bloom
    * skipping for the given filters, grouped by partition value row —
    * the metadata-only answer to "how much data will this scan read".
    * Shared by [[listFiles]] (the actual scan planning) and
    * [[prunedSizeInBytes]] (join-size estimation in
    * [[GraftScanStats]]); both see the same file set by construction.
    */
  private[graft] def prunedAdds(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[(InternalRow, Seq[AddFile])] = {
    val statKept = DataSkipping.pruner(partitionSchema, physSchema,
      partitionFilters ++ dataFilters)(dirs)
    val skips = dataFilters.flatMap(DataSkipping.toSkipFilters)
    // point-lookup skipping: `=`/`IN` filters on DECLARED bloom columns
    // consult the surviving files' parquet footer bloom filters (min/max
    // can't prune a uniform high-cardinality key; the bloom filter can)
    val bloomChecks: Seq[(String, Seq[Any])] = skips.collect {
      case DataFilter(c, SkipOp.Eq, v) if bloomPhysCols(c) && v != null =>
        (c, Seq(v))
      case DataFilter(c, SkipOp.In, vs: Seq[_]) if bloomPhysCols(c) =>
        (c, vs.asInstanceOf[Seq[Any]])
    }
    val result =
      if (bloomChecks.isEmpty) statKept
      else {
        // key carries each value's runtime class — Seq.toString erases
        // types (long 1 and string "1" render identically), and two
        // filters differing only in value type must not share a memo row
        val checksKey = bloomChecks.map { case (c, vs) =>
          (c, vs.map(v => (if (v == null) "null" else v.getClass.getName, v)))
        }.toString
        val candidates = statKept.flatMap(_._2)
        // memoised PER (file, checks) — a keep-set computed under one
        // query's narrower partition/stats pruning must never be reused
        // as the whole answer for a broader query on the same index
        val unknown = candidates.filterNot(f =>
          bloomMemo.containsKey((f.path, checksKey)))
        if (unknown.nonEmpty) {
          val keep = graft.io.BloomFilters.pruneFiles(
            spark.sessionState.newHadoopConf(), tablePath, unknown,
            bloomChecks, spark = Some(spark))
          unknown.foreach(f =>
            bloomMemo.put((f.path, checksKey), keep(f.path)))
        }
        statKept.map { case (row, fs) =>
          (row, fs.filter(f => bloomMemo.get((f.path, checksKey))))
        }
      }
    result
  }

  /** Bytes the scan will actually read under these filters — the pruned
    * file set's size sum, computed entirely from commit-log metadata
    * (no filesystem calls beyond any bloom-footer consultations, which
    * are memoised and shared with the scan's own `listFiles`).
    */
  private[graft] def prunedSizeInBytes(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Long =
    prunedAdds(partitionFilters, dataFilters)
      .iterator.flatMap(_._2).map(_.sizeBytes).sum

  /** Declared bloom columns (physical names) at this snapshot. */
  private lazy val bloomPhysCols: Set[String] =
    graft.io.BloomFilters.physColsOf(snap)

  /** listFiles can run several times while one query plans (and one
    * index instance can serve several queries); footer consultations
    * for the same (file, filter set) are answered once.
    */
  private val bloomMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Boolean]()

  /** Pushed-down filters reference the scan's output attributes, which
    * carry PHYSICAL column names for renamed columns (the native plan
    * scans the physical schema and aliases back — see
    * [[GraftNativeRelation.planFor]]); footer stats in the log are keyed
    * the same way, so skipping resolves types against the physical view.
    */
  private lazy val physSchema: StructType =
    graft.io.ColumnMapping.physicalSchema(
      snap.schema, graft.io.ColumnMapping.fromSnapshot(snap))

  private def status(f: AddFile): FileStatus =
    new FileStatus(f.sizeBytes, false, 1, 128L * 1024 * 1024,
      f.modificationTime, new Path(tablePath, f.path))

  override def inputFiles: Array[String] =
    snap.files.map(f => new Path(tablePath, f.path).toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = snap.files.map(_.sizeBytes).sum

  override def toString: String =
    s"GraftFileIndex[$tablePath v${snap.version}, ${snap.files.size} files]"
}
