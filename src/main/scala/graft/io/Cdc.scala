package graft.io

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.log.{AddFile, CommitLog}

/** Change-data-feed plumbing (Delta's `enableChangeDataFeed` pattern).
  *
  * CDF is opt-in per table via the carried-forward property
  * `graft.cdf=true` — recording row-level changes costs an extra pass
  * over the touched files at DML/merge time, so tables that never read
  * a change feed shouldn't pay it. When enabled, COW commits write the
  * changed rows (with a `_change_type` column:
  * `update_preimage` / `update_postimage` / `delete` / `insert`) as
  * parquet under `<table>/_cdc/<uuid>/` and record them on the commit's
  * `cdc` action list. `_cdc` is an underscore-internal directory: never
  * part of the live file set, invisible to scans, and skipped by every
  * vacuum path. Change-file volume scales with the CHANGED rows, not
  * the table — the posture that keeps CDC viable on a 100 TB table.
  */
object Cdc {

  val ChangeCol = "_change_type"
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
  def stamp(df: DataFrame, version: Long, timestampMs: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    df.withColumn(VersionCol, lit(version))
      .withColumn(TimestampCol, lit(new java.sql.Timestamp(timestampMs)))
  }

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
    when(changeType.isin("insert", "update_postimage"), 1L).otherwise(-1L)
  }
  val Dir = "_cdc"

  /** Carried-forward table property key enabling CDF (`graft.cdf`). */
  val PropKey: String = CommitLog.ReservedPrefix + "cdf"

  def enabled(tableProperties: Map[String, String]): Boolean =
    tableProperties.get(PropKey).exists(_.equalsIgnoreCase("true"))

  /** Write `changes` (data columns + `_change_type`) as this commit's
    * change files and return their actions. Paths are relative to the
    * table root, like add actions.
    *
    * Change files are staged under PHYSICAL column names (like data
    * files — [[ColumnMapping.toPhysical]]): files written before and
    * after a RENAME COLUMN then carry the SAME names, so one
    * mapping-aware projection at read time covers every generation of a
    * `tableChanges` range.
    */
  def writeChangeFiles(
      spark: SparkSession,
      path: String,
      changes: DataFrame,
      compression: String = "zstd"): Seq[AddFile] = {
    val mapping = ColumnMapping.fromProps(
      new CommitLog(path, spark.sessionState.newHadoopConf()).tableProperties())
    val sub = s"$Dir/${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}"
    val dest = new Path(path, sub)
    ColumnMapping.toPhysical(changes, mapping)
      .write.option("compression", compression).parquet(dest.toString)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dest.getFileSystem(conf)
    fs.listStatus(dest).toSeq
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        AddFile(
          path = s"$sub/${st.getPath.getName}",
          partitionValues = Map.empty,
          sizeBytes = st.getLen,
          numRecords = ParquetMeta.rowCount(spark, st.getPath.toString),
          modificationTime = st.getModificationTime)
      }
  }
}
