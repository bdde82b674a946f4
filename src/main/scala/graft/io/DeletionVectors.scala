package graft.io

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.roaringbitmap.RoaringBitmap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.{Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.unsafe.types.UTF8String

import graft.log.{AddFile, CommitLog, DvFile}

/** Deletion-vector plumbing (Delta's merge-on-read deletes).
  *
  * Opt-in per table via the carried-forward property `graft.dv=true`:
  * DELETE/UPDATE then record the matched PHYSICAL ROW INDEXES of each
  * touched file as a RoaringBitmap under `_dv/<uuid>.bin` instead of
  * rewriting the file — a point delete on a 100 TB table costs one
  * pruned discovery scan plus O(deleted rows) of compressed bitmap,
  * never a file rewrite. Reads anti-filter on
  * `(_metadata.file_path, _metadata.row_index)` via [[DvDeleted]];
  * OPTIMIZE purges DVs by rewriting their files.
  *
  * The bitmap is 32-bit: per-FILE row indexes are bounded far below
  * 2^31 by any sane file size (enforced at build time), exactly
  * Delta's RoaringBitmapArray assumption per 2^32 bucket.
  */
object DeletionVectors {

  /** Carried-forward table property key enabling DV DML (`graft.dv`). */
  val PropKey: String = CommitLog.ReservedPrefix + "dv"

  val Dir = "_dv"

  def enabled(tableProperties: Map[String, String]): Boolean =
    tableProperties.get(PropKey).exists(_.equalsIgnoreCase("true"))

  /** The `operationMetrics` of a `dv`-mode commit, from
    * [[bitmapUpdates]]' answer: the files whose deletion vector changed,
    * the vectors written (a file left with no live row is removed
    * instead) and the rows the new bits delete.
    */
  def commitMetrics(
      updated: Seq[(AddFile, Option[AddFile])],
      deletedRows: Long): Map[String, Long] = Map(
    "num_affected_files" -> updated.size.toLong,
    "num_deletion_vectors" -> updated.count(_._2.isDefined).toLong,
    "num_deleted_rows" -> deletedRows)

  def serialize(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val bos = new ByteArrayOutputStream(bm.serializedSizeInBytes())
    val out = new DataOutputStream(bos)
    bm.serialize(out)
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }

  /** Read a DV file (relative path) from the table root. */
  def readDv(tablePath: String, conf: Configuration, dv: DvFile): RoaringBitmap =
    deserialize(readDvBytes(tablePath, conf, dv))

  /** Persist a bitmap as a new DV file; returns its action. Content is
    * immutable once written (a re-delete writes a NEW merged DV file and
    * repoints the add action), so concurrent readers of older versions
    * never see a DV change underneath them.
    */
  def writeDv(tablePath: String, conf: Configuration, bm: RoaringBitmap): DvFile = {
    val rel = s"$Dir/${java.util.UUID.randomUUID().toString.replace("-", "")}.bin"
    val p = new Path(tablePath, rel)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(serialize(bm))
    finally out.close()
    DvFile(rel, bm.getLongCardinality)
  }

  /** Driver-side cache of DV file bytes keyed by (tableRoot, dvRelPath).
    * DV files are content-immutable (a re-delete writes a NEW merged file
    * and repoints the add action), so cached bytes never go stale; the
    * cache is cleared wholesale when it exceeds a soft byte budget.
    */
  private val bytesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Array[Byte]]()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val CacheBudget = 256L * 1024 * 1024

  /** Raw serialized bitmap bytes of a DV file — the on-disk content IS
    * the [[serialize]] form, so this is a straight read (cached).
    */
  def readDvBytes(tablePath: String, conf: Configuration, dv: DvFile): Array[Byte] = {
    val key = (tablePath, dv.path)
    val hit = bytesCache.get(key)
    if (hit != null) return hit
    val p = new Path(tablePath, dv.path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    if (cachedBytes.addAndGet(bytes.length.toLong) > CacheBudget) {
      bytesCache.clear()
      cachedBytes.set(bytes.length.toLong)
    }
    bytesCache.put(key, bytes)
    bytes
  }

  /** Per-file deletion-bitmap updates for a set of hit rows. `hits` is a
    * two-column DataFrame of `(absolute file path, physical row index)`
    * — the row-meta columns a `withRowMeta` scan projects — over LIVE
    * rows of `snap` (the scan already anti-filters existing DVs). The
    * bitmaps are aggregated EXECUTOR-side (one group per file): only
    * compressed bytes reach the driver, bounded by the touched file
    * count, never the deleted row count.
    *
    * Returns, per touched file, its current add action paired with the
    * repointed action carrying the merged DV — `None` when the merged DV
    * would cover every physical row (the file is dropped outright) —
    * plus the newly-deleted row count. Shared by DELETE/UPDATE
    * ([[graft.merge.Dml]]) and the merge engine's merge-on-read path
    * ([[graft.merge.MergeClausesExecutor]]), which every MERGE takes.
    */
  def bitmapUpdates(
      spark: SparkSession,
      path: String,
      snap: graft.log.Snapshot,
      hits: org.apache.spark.sql.DataFrame):
      (Seq[(AddFile, Option[AddFile])], Long) = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val Seq(fileCol, idxCol) = hits.columns.toSeq
    val bitmaps: Seq[(String, Array[Byte], Long)] = hits
      .select(col(fileCol).as("f"), col(idxCol).cast("long").as("i"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val bm = new RoaringBitmap()
        it.foreach { case (_, i) =>
          require(i >= 0 && i <= Int.MaxValue,
            s"row index $i of $f exceeds the 32-bit DV bitmap range")
          bm.add(i.toInt)
        }
        (f, serialize(bm), bm.getLongCardinality)
      }
      .collect().toSeq
    if (bitmaps.isEmpty) return (Nil, 0L)

    // absolute `_metadata.file_path` → the snapshot's add action: key
    // every action by its bare URI path (an action path is
    // table-relative normally, but FS-qualified-absolute for a shallow
    // clone's references into its source — see graft.io.Clone)
    val rootAbs = new Path(path).getFileSystem(conf)
      .makeQualified(new Path(path)).toUri.getPath.stripSuffix("/")
    val byAbs = snap.files.map { f =>
      val hp = new Path(f.path)
      val key = if (hp.isAbsolute || hp.toUri.getScheme != null) hp.toUri.getPath
        else s"$rootAbs/${f.path}"
      key -> f
    }.toMap
    def fileOf(abs: String): AddFile =
      byAbs.getOrElse(new java.net.URI(abs).getPath,
        throw new IllegalStateException(
          s"DV rewrite: $abs is not a live file of $path"))

    // merge with any existing DV; a fully-deleted file is removed outright
    val updated = bitmaps.map { case (abs, bytes, _) =>
      val old = fileOf(abs)
      val bm = deserialize(bytes)
      old.dv.foreach(d => bm.or(readDv(path, conf, d)))
      val card = bm.getLongCardinality
      require(card <= old.numRecords,
        s"DV cardinality $card exceeds ${old.path}'s ${old.numRecords} rows")
      if (card == old.numRecords) (old, None)
      else (old, Some(old.copy(dv = Some(writeDv(path, conf, bm)))))
    }
    (updated, bitmaps.map(_._3).sum)
  }

  /** Driver-side index for a scan's DV'd files: relative path → bitmap
    * bytes. Bitmaps stay serialized until an executor thread first
    * touches the file (lazy, per-thread cached), so shipping the index
    * costs the compressed size only.
    */
  def indexFor(
      tablePath: String, conf: Configuration, files: Seq[AddFile]): Option[DvIndex] = {
    val dvd = files.filter(_.dv.isDefined)
    if (dvd.isEmpty) None
    else Some(new DvIndex(dvd.map { f =>
      f.path -> readDvBytes(tablePath, conf, f.dv.get)
    }.toMap))
  }
}

/** Serializable relPath→bitmap-bytes map with a per-thread one-entry
  * cache: scans hand rows to the filter grouped by file, so the suffix
  * match against `_metadata.file_path` (absolute, FS-qualified — the
  * relative keys sidestep scheme/authority differences) runs once per
  * file change and membership is a single bitmap probe per row.
  */
final class DvIndex(bytesByRelPath: Map[String, Array[Byte]]) extends Serializable {

  @transient private lazy val cache =
    new ThreadLocal[(UTF8String, RoaringBitmap)]()

  private def lookup(absPath: String): RoaringBitmap = {
    val hit = bytesByRelPath.collectFirst {
      case (rel, bytes) if absPath.endsWith("/" + rel) || absPath == rel =>
        DeletionVectors.deserialize(bytes)
    }
    hit.getOrElse(DvIndex.Empty)
  }

  /** Is physical row `rowIndex` of the file at `absPath` deleted? The
    * per-thread cache keys on a COPIED UTF8String and compares bytes —
    * no String allocation on the per-row hot path (the scan may hand us
    * a UTF8String over a reused buffer, hence the clone on store).
    */
  def deleted(absPath: UTF8String, rowIndex: Long): Boolean = {
    var c = cache.get()
    if (c == null || !c._1.equals(absPath)) {
      c = (absPath.clone(), lookup(absPath.toString))
      cache.set(c)
    }
    rowIndex <= Int.MaxValue && c._2.contains(rowIndex.toInt)
  }
}

object DvIndex {
  private val Empty = new RoaringBitmap()
}

/** Codegen'd membership probe: true iff the deletion vector of the row's
  * file contains its physical row index. Evaluation delegates to the
  * [[DvIndex]] reference object (one virtual call per row, same pattern
  * as the PQ kernels), keeping the stage inside whole-stage codegen —
  * a HOF or UDF here would knock the entire scan out of codegen.
  */
case class DvDeleted(index: DvIndex, filePath: Expression, rowIndex: Expression)
    extends Predicate {

  override def children: Seq[Expression] = Seq(filePath, rowIndex)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val p = filePath.eval(input)
    val r = rowIndex.eval(input)
    p != null && r != null &&
      index.deleted(p.asInstanceOf[UTF8String], r.asInstanceOf[Number].longValue())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idx = ctx.addReferenceObj("dvIndex", index, classOf[DvIndex].getName)
    val fp = filePath.genCode(ctx)
    val ri = rowIndex.genCode(ctx)
    ev.copy(
      code = code"""
        ${fp.code}
        ${ri.code}
        boolean ${ev.value} = false;
        if (!${fp.isNull} && !${ri.isNull}) {
          ${ev.value} = $idx.deleted(${fp.value}, (long) ${ri.value});
        }
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(filePath = newChildren(0), rowIndex = newChildren(1))
}
