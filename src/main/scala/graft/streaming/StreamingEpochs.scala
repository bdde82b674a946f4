package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

import graft.io.{GraftTable, GraftWriter}

/** Driver-side epoch commit protocol for the DSv2 streaming write
  * (`writeStream.toTable`): promote one epoch's staged parquet files
  * into the table root and append a single commit stamped with
  * `(streaming_query_id, streaming_batch_id)` audit fields.
  *
  * Exactly-once has two halves here:
  *
  *  - '''Replayed epochs.''' Structured Streaming replays an epoch
  *    whose tasks succeeded but whose checkpoint didn't advance. Each
  *    epoch commit carries the idempotent-txn marker
  *    `graft.txn.<appId(queryId)>` = epoch id, the same marker the
  *    foreachBatch sink ([[Streams.toGraftTable]]) commits through:
  *    [[graft.log.CommitLog.commit]] checks and records it atomically
  *    with the version claim. A replay the marker already covers
  *    deletes its staged files before promoting anything (one read of
  *    the head's properties); one racing the original to the log loses
  *    inside the commit and deletes the files it promoted. No commit
  *    history is read.
  *  - '''Zombie task attempts.''' Only the files named in the tasks'
  *    commit messages are promoted; anything else in the stage
  *    directory (a lost executor's orphan or truncated file, leftovers
  *    of a crashed prior attempt of the same epoch) is deleted with
  *    the stage directory, never committed.
  */
object StreamingEpochs {

  val QueryIdKey = "streaming_query_id"
  val BatchIdKey = "streaming_batch_id"

  /** The txn application id of one query's epoch commits: the query id
    * survives restarts from the same checkpoint, and the prefix keeps
    * these ids apart from the foreachBatch sink's
    * `graft-stream-sink:<checkpoint>` ones.
    */
  def appId(queryId: String): String = s"graft-stream-query:$queryId"

  def commit(
      spark: SparkSession,
      tablePath: String,
      stageDir: String,
      writtenFiles: Seq[String],
      queryId: String,
      epochId: Long): Unit = {
    val table = GraftTable(spark, tablePath)
    require(table.log.tableExists(),
      s"streaming write target is not a graft table: $tablePath")
    val fs = table.log.fs
    val stage = new Path(stageDir)
    val app = appId(queryId)
    if (table.txnVersion(app).exists(_ >= epochId)) {
      fs.delete(stage, true) // replayed epoch: already committed
      return
    }
    if (!fs.exists(stage)) return // empty epoch: nothing staged
    // promote ONLY what the committed tasks reported: delete orphans
    // from failed/zombie attempts before the stage dir is promoted
    val allowed = writtenFiles.map(new Path(_).toUri.getPath).toSet
    val it = fs.listFiles(stage, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !allowed(st.getPath.toUri.getPath))
        fs.delete(st.getPath, false)
    }
    if (writtenFiles.isEmpty) { fs.delete(stage, true); return }
    GraftWriter.commitPromoted(spark, tablePath, stage,
      operation = "STREAMING WRITE",
      metadata = Map(QueryIdKey -> queryId, BatchIdKey -> epochId.toString),
      txn = (app, epochId))
  }

  def abort(spark: SparkSession, stageDir: String): Unit = {
    val stage = new Path(stageDir)
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(stage, true)
  }
}
