package graft.merge

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Cdc, GraftTable, GraftWriter}
import graft.log.{AddFile, RemoveFile}

/** Row-level DELETE / UPDATE commands (the `DeltaTable.delete/update`
  * surface) executed as file-granular copy-on-write:
  *
  *  1. one pruned scan finds the files that actually hold a matching
  *     row (the condition is pushed into the scan, so partition pruning
  *     and footer-stats skipping confine it; `input_file_name()` is
  *     projected directly over the scan);
  *  2. only those files are rewritten — non-matching rows are carried
  *     over verbatim, everything else in the table is untouched.
  *
  * On a 100 TB table a point DELETE therefore costs one
  * metadata-pruned discovery scan plus a rewrite of O(matching files),
  * never a table rewrite. NULL condition rows are out of scope on both
  * sides (SQL semantics: WHERE NULL neither deletes nor updates).
  */
object Dml {

  final case class DmlStats(version: Long, numAffectedFiles: Long)

  /** Delete rows satisfying `condition`. */
  def delete(spark: SparkSession, path: String, condition: Column): DmlStats =
    rewrite(spark, path, condition, "DELETE", keepMatched = None)

  /** Update rows satisfying `condition`: listed columns get their new
    * expression (evaluated over the old row), the rest keep their
    * values. Unknown column names error before any write.
    */
  def update(
      spark: SparkSession,
      path: String,
      condition: Column,
      set: Map[String, Column]): DmlStats =
    rewrite(spark, path, condition, "UPDATE", keepMatched = Some(set))

  private def rewrite(
      spark: SparkSession,
      path: String,
      condition: Column,
      op: String,
      keepMatched: Option[Map[String, Column]]): DmlStats = {
    val table = GraftTable(spark, path)
    GraftWriter.retryDerived {
      rewriteOnce(spark, table, path, condition, op, keepMatched)
    }
  }

  private def rewriteOnce(
      spark: SparkSession,
      table: GraftTable,
      path: String,
      condition: Column,
      op: String,
      keepMatched: Option[Map[String, Column]]): DmlStats = {
    val snap = table.snapshot()
    val cols = snap.schema.map(_.name)
    keepMatched.foreach { set =>
      val unknown = set.keys.filterNot(cols.contains)
      require(unknown.isEmpty,
        s"UPDATE SET names unknown columns: ${unknown.mkString(", ")}")
    }
    if (graft.io.DeletionVectors.enabled(table.log.tableProperties()))
      return dvRewriteOnce(spark, table, path, snap, condition, op, keepMatched)

    // 1. discovery: which files hold a matching row? (filter BEFORE the
    // nondeterministic input_file_name projection so pushdown fires)
    val fileCol = "__graft_file"
    val candDf = table.dfForFiles(snap, snap.files)
    val touched: Seq[AddFile] = Cow.touchedFiles(spark, path, snap.files,
      candDf.filter(condition).withColumn(fileCol, input_file_name()), fileCol)
    if (touched.isEmpty) return DmlStats(snap.version, 0L)

    // 2. rewrite only the touched files. Row tracking: read the touched
    // rows WITH their current ids and materialize them
    // (`__graft_row_id`) into the rewritten files — carried-over AND
    // updated rows keep their ids (Delta's preservation semantics);
    // only the read column rides along, the declared schema is unchanged
    val props = table.log.tableProperties()
    val rowIds = graft.io.RowTracking.enabled(props)
    val aff = table.dfForFilesCarryingIds(snap, touched, carryIds = rowIds)
    val matched = coalesce(condition, lit(false)) // WHERE NULL = no-op
    // change-data feed (opt-in `graft.cdf`): the matched rows also
    // emit their change rows from the same scan — a DELETE's matched
    // row becomes its delete row, an UPDATE's is kept and emits its
    // pre- and postimage (see Cdc.tag)
    val cdf = Cdc.enabled(props)
    val hitKinds =
      if (keepMatched.isEmpty) Cdc.kinds(Some(Cdc.Delete))
      else Cdc.kinds(None, Some(Cdc.Preimage), Some(Cdc.Postimage))
    val rows =
      if (!cdf) aff
      else Cdc.tag(aff, when(matched, hitKinds).otherwise(Cdc.kinds(None)))
    // preimages keep the old values, like the rows no UPDATE matched
    val assigned = if (cdf) matched && !Cdc.isPreimage else matched
    // UPDATE keeps every row's id but REFRESHES the matched rows' row
    // version: a NULL materialized version falls back to the new file's
    // commit version at read time (carried rows keep theirs)
    val carryCols =
      if (!rowIds) Nil
      else Seq(col(graft.io.RowTracking.PhysicalCol),
        when(assigned, lit(null).cast("long"))
          .otherwise(col(graft.io.RowTracking.PhysicalVersionCol))
          .as(graft.io.RowTracking.PhysicalVersionCol))
    val newData = keepMatched match {
      case None => if (cdf) rows else rows.filter(!matched) // DELETE
      case Some(set) =>
        // generated columns not explicitly SET are recomputed (identity
        // on unmatched carried-over rows and preimages; keeps the
        // invariant true on rows whose base columns just changed —
        // Delta parity)
        graft.io.Generated.recompute(
          rows.select(cols.map { c =>
            set.get(c)
              .map(v => when(assigned, v).otherwise(col(c)).as(c))
              .getOrElse(col(c))
          } ++ carryCols ++ (if (cdf) Seq(col(Cdc.ChangeCol)) else Nil): _*),
          snap.schema, props, except = set.keys.toSet)
    }
    val v = GraftWriter.writeCow(spark, newData, path, snap,
      touched.map(f => RemoveFile(f.path)),
      operation = op,
      metadata = Map("operation" -> op),
      profile = Some(dmlProfile(spark, snap, touched, condition)),
      // DELETE changes no values; UPDATE recomputed all but the SET ones
      assignedCols = Some(keepMatched.map(_.keys.toSet).getOrElse(Set.empty)))
    DmlStats(v, touched.size.toLong)
  }

  /** Conflict profile of a DELETE/UPDATE: only the touched files' rows
    * influenced the output (an untouched candidate provably held no
    * match), and a concurrent append conflicts only when its file stats
    * cannot rule out rows matching `condition` — so appends and
    * rewrites elsewhere in the table REBASE instead of forcing a
    * re-derivation ([[graft.log.CommitLog.commitOrRebase]]).
    */
  private def dmlProfile(
      spark: SparkSession,
      snap: graft.log.Snapshot,
      touched: Seq[AddFile],
      condition: Column): graft.log.TxnProfile = {
    val paths = touched.map(_.path).toSet
    // lazy: the matcher costs an analysis pass — only pay on a lost CAS
    lazy val matcher = graft.io.DataSkipping.matcherFor(spark, snap, condition)
    graft.log.TxnProfile(
      readPaths = paths,
      removePaths = paths,
      mayRead = a => matcher(a))
  }

  /** Merge-on-read DELETE / UPDATE (opt-in `graft.dv=true`): instead of
    * rewriting touched files, record the matched rows' physical indexes
    * as per-file RoaringBitmaps ([[graft.io.DeletionVectors]]) and
    * repoint each file's add action at the merged DV — a point DELETE
    * costs one metadata-pruned scan plus O(deleted rows) of compressed
    * bitmap, no data-file rewrite. An UPDATE additionally appends the
    * transformed matched rows as new files (Delta's DV update shape).
    * A file whose DV would cover every physical row is dropped outright.
    *
    * The bitmaps are aggregated EXECUTOR-side (one group per file) —
    * only compressed bytes reach the driver, bounded by the touched
    * file count, never the deleted row count.
    */
  private def dvRewriteOnce(
      spark: SparkSession,
      table: GraftTable,
      path: String,
      snap: graft.log.Snapshot,
      condition: Column,
      op: String,
      keepMatched: Option[Map[String, Column]]): DmlStats = {
    import graft.io.DeletionVectors
    val cols = snap.schema.map(_.name)
    val matched = coalesce(condition, lit(false)) // WHERE NULL = no-op
    val fileCol = graft.sources.GraftNativeRelation.RowMetaFileCol
    val idxCol = graft.sources.GraftNativeRelation.RowMetaIndexCol

    // one pruned scan straight to per-file bitmaps: the condition pushes
    // into the scan (footer-stats skipping prunes untouched files on the
    // driver), and `_metadata` is deterministic, so — unlike the COW
    // path's input_file_name() discovery — nothing blocks pushdown
    val hits = table.dfForFiles(snap, snap.files, withRowMeta = true)
      .filter(matched)
    val (updated, numDeleted) = DeletionVectors.bitmapUpdates(
      spark, path, snap, hits.select(col(fileCol), col(idxCol)))
    if (updated.isEmpty) return DmlStats(snap.version, 0L)
    val touched = updated.map(_._1)

    val props = table.log.tableProperties()
    val cdf = Cdc.enabled(props)
    val removals = touched.map(f => RemoveFile(f.path))
    val dvAdds = updated.flatMap(_._2)
    val dvMetrics = DeletionVectors.commitMetrics(updated, numDeleted)
    val profile = dmlProfile(spark, snap, touched, condition)
    val v = keepMatched match {
      case None if !cdf => // DELETE: metadata-only commit, no data write at all
        table.log.commitOrRebase(profile, snap) { expected =>
          table.log.commit(
            operation = op,
            mode = "dv",
            schemaDdl = snap.schema.toDDL,
            partitionColumns = snap.partitionColumns,
            metadata = Map("operation" -> op),
            operationMetrics = dvMetrics,
            add = dvAdds,
            remove = removals,
            expectedVersion = Some(expected))
        }
      case None => // change-data feed: the write stages the delete rows only
        GraftWriter.writeCow(spark,
          table.dfForFiles(snap, touched).filter(matched)
            .withColumn(Cdc.ChangeCol, lit(Cdc.Delete)),
          path, snap, removals,
          operation = op,
          metadata = Map("operation" -> op),
          extraAdds = dvAdds,
          profile = Some(profile),
          assignedCols = Some(Set.empty),
          mode = "dv",
          extraMetrics = dvMetrics)
      case Some(set) => // UPDATE: postimages append as new files. Row
        // tracking: the postimage carries its row's CURRENT id
        // materialized, so a DV update preserves ids exactly like the
        // COW path (the preimage leaves via the bitmap). Change-data
        // feed: each matched row also emits its pre- and postimage.
        val rowIds = graft.io.RowTracking.enabled(props)
        val postSrc =
          table.dfForFilesCarryingIds(snap, touched, carryIds = rowIds).filter(matched)
        val rows =
          if (cdf) Cdc.tag(postSrc, Cdc.kinds(None, Some(Cdc.Preimage), Some(Cdc.Postimage)))
          else postSrc
        val carryCols =
          (if (rowIds) Seq(col(graft.io.RowTracking.PhysicalCol)) else Nil) ++
            (if (cdf) Seq(col(Cdc.ChangeCol)) else Nil)
        val postimages = graft.io.Generated.recompute(
          rows.select(cols.map(c => set.get(c)
            .map(v => (if (cdf) when(!Cdc.isPreimage, v).otherwise(col(c)) else v).as(c))
            .getOrElse(col(c))) ++ carryCols: _*),
          snap.schema, props, except = set.keys.toSet)
        GraftWriter.writeCow(spark, postimages, path, snap,
          removals,
          operation = op,
          metadata = Map("operation" -> op),
          extraAdds = dvAdds,
          profile = Some(profile),
          assignedCols = Some(set.keys.toSet),
          mode = "dv",
          extraMetrics = dvMetrics)
    }
    DmlStats(v, touched.size.toLong)
  }
}
