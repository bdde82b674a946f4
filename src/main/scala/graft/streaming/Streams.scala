package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}

/** Input row for stateful sessionization. */
final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)

/** Open-session state carried between micro-batches. */
final case class SessionState(start: Long, last: Long, n: Long)

/** One completed session. */
final case class SessionOut(
    user_id: Long, start_epoch: Long, end_epoch: Long, n_events: Long)

/** Structured-Streaming surface (SURVEY §2.9).
  *
  * The reference has no streaming runtime — its incremental model is
  * batch-materialized time-window partitions, re-materialized idempotently
  * (dagster_delta/dbiomanager_fixed.py:93-103, handler.py:442-480). Here
  * that model is kept (foreachBatch + idempotent commits) and extended
  * with native streaming operators: watermarked tumbling windows,
  * `session_window` sessionization, and custom state via
  * `mapGroupsWithState`.
  */
object Streams {

  /** Gap-based sessionization with the built-in `session_window` — the
    * streaming analog of [[graft.ext.Events.sessionize]]. State is
    * bounded by the watermark; at scale the only shuffle keys on
    * (user_id, merged session window).
    */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Watermarked tumbling-window counts per event type. */
  def tumblingCounts(
      events: DataFrame,
      width: String = "1 hour",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))

  /** Custom keyed state: running per-user event count via
    * `mapGroupsWithState` (the `KeyValueGroupedDataset` state API).
    */
  def runningCounts(events: Dataset[(Long, String)]): Dataset[(Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[(Long, String)], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + batch.size
          state.update(next)
          (user, next)
      }
  }

  /** Streaming exact deduplication: drop repeated ids across
    * micro-batches, with state bounded by the watermark (an id older
    * than the watermark horizon can be forgotten — late duplicates
    * beyond it are also dropped as late data). The streaming face of
    * [[graft.ext.Dedup.exact]] for at-least-once upstream sources.
    */
  def dedupStream(
      events: DataFrame,
      idCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicates(idCols :+ tsCol)

  /** Row-level change-feed stream over a graft table (Delta's
    * `readChangeFeed`): each micro-batch delivers its commits' exact
    * change rows — table columns + `_change_type` ∈ insert / delete /
    * update_preimage / update_postimage. Change files are served when
    * the table runs `graft.cdf=true`; appends surface as inserts and
    * overwrite commits as their net diff either way, so a downstream
    * mirror stays consistent without rescanning the table.
    */
  def readChangeFeed(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format("graft").option("path", path)
      .option("readChangeFeed", "true").load()

  /** Custom stateful sessionization with `flatMapGroupsWithState` +
    * event-time timeout: completed sessions (gap exceeded inside a
    * batch) emit immediately; the open session per user is held in
    * `GroupState` and flushed when the watermark passes its gap window.
    * State size is O(open sessions), bounded by the watermark — the
    * hand-rolled analog of [[sessionWindows]] for when session logic
    * outgrows `session_window` (custom close conditions, side outputs).
    */
  def statefulSessions(
      events: Dataset[SessionEvent],
      gapSeconds: Long = 1800,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start, s.last, s.n))
          } else {
            val epochs = batch.map(_.ts.getTime / 1000).toArray.sorted
            var cur = state.getOption
            val closed = Iterator.unfold(0) { i =>
              if (i >= epochs.length) None
              else {
                val e = epochs(i)
                cur match {
                  case Some(s) if e - s.last > gapSeconds =>
                    cur = Some(SessionState(e, e, 1))
                    Some((Some(SessionOut(user, s.start, s.last, s.n)), i + 1))
                  case Some(s) =>
                    cur = Some(SessionState(s.start, e, s.n + 1))
                    Some((None, i + 1))
                  case None =>
                    cur = Some(SessionState(e, e, 1))
                    Some((None, i + 1))
                }
              }
            }.flatten.toVector
            cur.foreach { s =>
              state.update(s)
              // flush the open session once the watermark passes last+gap
              state.setTimeoutTimestamp((s.last + gapSeconds) * 1000 + 1)
            }
            closed.iterator
          }
      }
  }

  /** Watermarked stream-stream equi-join bounded to a time interval:
    * right-side events within `± within` of the left event's time.
    * Both sides carry watermarks and the join condition bounds event
    * time, so each side's buffered state is dropped once the watermark
    * passes the interval — the state-bounded shape stream-stream joins
    * require at scale (an unbounded-time join would buffer both streams
    * forever). Output columns are the left row plus the right side's
    * `valueCols` prefixed `r_`.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      valueCols: Seq[String],
      tsCol: String = "ts",
      within: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(tsCol, watermark).alias("l")
    val r = right
      .withColumnsRenamed(
        (valueCols :+ key :+ tsCol).map(c => c -> s"r_$c").toMap)
      .withWatermark(s"r_$tsCol", watermark)
      .alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.r_$key") &&
        col(s"r.r_$tsCol") >= col(s"l.$tsCol") - expr(s"INTERVAL $within") &&
        col(s"r.r_$tsCol") <= col(s"l.$tsCol") + expr(s"INTERVAL $within"))
      .drop(s"r_$key")
  }

  /** Stream into a graft table with exactly-once micro-batch commits:
    * each batch appends through the writer's idempotent-txn marker
    * `graft.txn.graft-stream-sink:<checkpoint>` = batch id, which
    * [[graft.log.CommitLog.commit]] checks and records atomically with
    * the version claim, so a replayed batch the marker already covers
    * is a no-op — the Delta-style transactional sink, on our own commit
    * log. The DSv2 sink ([[StreamingEpochs]]) commits through the same
    * marker; neither reads the commit history. Batches also record a
    * `streaming_batch_id` audit field.
    */
  def toGraftTable(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      partitionBy: Seq[String] = Nil,
      /** Post-commit auto-compaction (Delta's `autoCompact`): when any
        * partition's live file count reaches this threshold, run
        * [[GraftWriter.optimize]] after the epoch commit. 0 disables.
        * This is the small-file guard for per-trigger commits — without
        * it a long-running stream accumulates O(#epochs) files and scan
        * planning degrades; with it the file count stays
        * O(data / maxRecordsPerFile) while readers keep serving (old
        * files stay until vacuum).
        */
      autoCompactMinFiles: Int = 0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // keyed by checkpoint so independent streams into the same
        // table never collide
        GraftWriter.write(spark, batch, path, WriteOptions(
          mode = WriteMode.Append,
          partitionBy = partitionBy,
          metadata = Map(StreamingEpochs.BatchIdKey -> batchId.toString),
          txnAppId = Some(s"graft-stream-sink:$checkpoint"),
          txnVersion = Some(batchId)))
        if (autoCompactMinFiles > 0) {
          val files = GraftTable(spark, path).snapshot().files
          val worst = files.groupBy(_.partitionValues)
            .valuesIterator.map(_.size).maxOption.getOrElse(0)
          if (worst >= autoCompactMinFiles)
            GraftWriter.optimize(spark, path)
        }
        ()
      }
      .start()

  /** [[toGraftTable]] addressed by catalog name (`"cat.ns.tbl"`): the
    * table path resolves through the GraftCatalog's `root` conf — the
    * streaming-write complement of `readStream.table`. (Spark's own
    * `writeStream.toTable` requires a DSv2 STREAMING_WRITE
    * implementation; this helper reaches the same exactly-once sink
    * through the catalog's addressing scheme instead.)
    */
  def toCatalogTable(
      stream: DataFrame,
      name: String,
      checkpoint: String,
      partitionBy: Seq[String] = Nil): StreamingQuery = {
    val parts = name.split('.')
    require(parts.length >= 3,
      s"expected catalog.namespace.table, got '$name' — a 2-part name " +
        "would write outside the catalog's namespace layout")
    val spark = stream.sparkSession
    val catKey = s"spark.sql.catalog.${parts.head}"
    require(spark.conf.getOption(catKey)
        .contains(classOf[graft.catalog.GraftCatalog].getName),
      s"'${parts.head}' is not a graft catalog ($catKey)")
    val root = spark.conf.getOption(s"$catKey.root").getOrElse(
      throw new IllegalArgumentException(s"$catKey.root is not set"))
    toGraftTable(stream, (root +: parts.tail.toSeq).mkString("/"),
      checkpoint, partitionBy)
  }

  /** Stream a per-window aggregate into window-partitioned graft
    * partitions: every micro-batch overwrites exactly the partitions of
    * the windows it updates (foreachBatch + replaceWhere) — the
    * reference's idempotent re-materialize-the-window model
    * (dagster_delta tests: time-window partition overwrite incl.
    * backfill), driven by a stream.
    *
    * Contract: `windowedAgg` must be an Update-mode streaming aggregate
    * whose ONLY grouping key is `windowCol` (one output row per window),
    * so each emitted row is the complete new content of its partition.
    */
  def upsertWindowsToGraftTable(
      windowedAgg: DataFrame,
      path: String,
      checkpoint: String,
      windowCol: String): StreamingQuery =
    windowedAgg.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val windows = batch.select(windowCol).distinct().collect().map(_.get(0))
        if (windows.nonEmpty) {
          GraftWriter.write(batch.sparkSession, batch, path, WriteOptions(
            mode = WriteMode.Overwrite,
            partitionBy = Seq(windowCol),
            replaceWhere = Some(col(windowCol).isin(windows: _*))))
        }
        ()
      }
      .start()
}
