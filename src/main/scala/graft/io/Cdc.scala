package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{array, coalesce, col, explode, lit}
import org.apache.spark.sql.types.StringType

import graft.log.CommitLog

/** Change-data-feed plumbing (Delta's `enableChangeDataFeed` pattern).
  *
  * CDF is opt-in per table via the carried-forward property
  * `graft.cdf=true`. When enabled, a COW/DV DML or merge emits its change
  * rows (`_change_type`: `update_preimage` / `update_postimage` /
  * `delete` / `insert`) from the same dispatched rows as its data rows,
  * in one frame where a NULL `_change_type` marks a data row
  * ([[tag]]), and writes that frame once
  * ([[GraftWriter.writeCow]]): the write partitions by `_change_type`
  * ahead of the table's partition columns, the data rows' files land
  * in the table root, and the change files land under
  * `<table>/_cdc/<uuid>/_change_type=<kind>/<partition dirs>/` as the
  * commit's `cdc` actions, whose partition values hold the change type
  * and the table partition values (no change file holds those columns;
  * the reader fills them from the partition values). So CDF costs no
  * extra scan, join or SQL execution, only the change rows' bytes.
  * `_cdc` is an underscore-internal directory: never part of the live
  * file set, invisible to scans, and skipped by every vacuum path.
  * Change-file volume scales with the CHANGED rows, not the table —
  * the posture that keeps CDC viable on a 100 TB table.
  */
object Cdc {

  val ChangeCol = "_change_type"
  val Insert = "insert"
  val Delete = "delete"
  val Preimage = "update_preimage"
  val Postimage = "update_postimage"

  /** `df` with each row emitted once per entry of `kinds`, an array of
    * change kinds, as [[ChangeCol]]: a NULL entry is the row the table
    * keeps (a data row), any other entry a change row of that kind. One
    * generator over rows the command computes anyway, so its change
    * rows cost no second scan or join.
    */
  def tag(df: DataFrame, kinds: Column): DataFrame =
    df.withColumn(ChangeCol, explode(kinds))

  /** An array of change kinds for [[tag]]; None is the data row. */
  def kinds(ks: Option[String]*): Column =
    array(ks.map(k => lit(k.orNull).cast(StringType)): _*)

  /** A tagged row is a preimage: it keeps the values the command read. */
  def isPreimage: Column = coalesce(col(ChangeCol) === Preimage, lit(false))

  /** Commit provenance columns every change row carries (Delta's CDF
    * contract): the version that produced the change and its wall-clock
    * commit timestamp.
    */
  val VersionCol = "_commit_version"
  val TimestampCol = "_commit_timestamp"

  /** Stamp change rows with their commit's provenance — the ONE
    * definition of the provenance columns' values, shared by the
    * per-commit feed, the whole-range diff fallback, and the streaming
    * source's initial-snapshot batch.
    */
  def stamp(df: DataFrame, version: Long, timestampMs: Long): DataFrame =
    df.withColumn(VersionCol, lit(version))
      .withColumn(TimestampCol, lit(new java.sql.Timestamp(timestampMs)))

  /** The row-multiplicity column of the signed net-change feed
    * ([[GraftTable.signedChanges]]): +1 for a row the range added, −1
    * for a row it removed.
    */
  val SignCol = "__sign"

  /** A change kind as its multiplicity: `insert` / `update_postimage`
    * add a row (+1), `delete` / `update_preimage` remove one (−1).
    */
  def signOf(changeType: Column): Column = {
    import org.apache.spark.sql.functions.when
    when(changeType.isin(Insert, Postimage), 1L).otherwise(-1L)
  }
  val Dir = "_cdc"

  /** Carried-forward table property key enabling CDF (`graft.cdf`). */
  val PropKey: String = CommitLog.ReservedPrefix + "cdf"

  def enabled(tableProperties: Map[String, String]): Boolean =
    tableProperties.get(PropKey).exists(_.equalsIgnoreCase("true"))
}
