package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ext.Events
import graft.io.GraftTable
import graft.streaming.Streams

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val sample = Seq(
    // user 1: two sessions (gap > 30 min between 10:00 block and 11:30)
    (ts("2024-01-01 10:00:00"), 1L, "click"),
    (ts("2024-01-01 10:10:00"), 1L, "view"),
    (ts("2024-01-01 11:30:00"), 1L, "click"),
    // user 2: one session
    (ts("2024-01-01 09:00:00"), 2L, "view"),
    (ts("2024-01-01 09:20:00"), 2L, "view"))

  test("session_window streaming matches batch sessionize per user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    mem.addData(sample: _*)
    val stream = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.sessionWindows(stream)
      .writeStream.format("memory").queryName("sess").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("sess")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = Events.sessionize(
      sample.toDF("ts", "user_id", "event_type").withColumn("event_id", lit(0L)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(streamed == batch)
    assert(streamed == Set((1L, 2L, 3L), (2L, 1L, 2L)))
  }

  test("watermarked tumbling counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    mem.addData(sample: _*)
    val q = Streams.tumblingCounts(mem.toDF().toDF("ts", "user_id", "event_type"))
      .writeStream.format("memory").queryName("tumb").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("tumb")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "click", 1L),
      ("2024-01-01 10:00:00.0", "view", 1L),
      ("2024-01-01 11:00:00.0", "click", 1L),
      ("2024-01-01 09:00:00.0", "view", 2L)))
  }

  test("mapGroupsWithState running counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (1L, "b"), (2L, "a"))
    val q = Streams.runningCounts(mem.toDS())
      .writeStream.format("memory").queryName("rc").outputMode("update").start()
    try {
      q.processAllAvailable()
      mem.addData((1L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    // last update per user wins
    val last = spark.table("rc").groupBy("_1").agg(max("_2").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(last == Set((1L, 3L), (2L, 1L)))
  }

  test("flatMapGroupsWithState sessions: in-batch closes emit now, open ones on watermark") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SessionEvent
    val mem = MemoryStream[SessionEvent]
    mem.addData(sample.map { case (t, u, _) => SessionEvent(u, t) }: _*)
    val q = Streams.statefulSessions(mem.toDS())
      .writeStream.format("memory").queryName("sfs").outputMode("append").start()
    try {
      q.processAllAvailable()
      // user 1's first session (10:00-10:10) closed by the 11:30 event;
      // user 2's flushed by the advanced watermark (11:30 - 1h > 09:50)
      val early = spark.table("sfs").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(early == Set(
        (1L, ts("2024-01-01 10:00:00").getTime / 1000,
          ts("2024-01-01 10:10:00").getTime / 1000, 2L),
        (2L, ts("2024-01-01 09:00:00").getTime / 1000,
          ts("2024-01-01 09:20:00").getTime / 1000, 2L)))
      // advance the watermark far past every open session + gap
      mem.addData(SessionEvent(99L, ts("2024-01-02 00:00:00")))
      q.processAllAvailable()
      mem.addData(SessionEvent(99L, ts("2024-01-02 00:00:01")))
      q.processAllAvailable()
      val all = spark.table("sfs").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      // user 1: sessions of 2 and 1 events; user 2: one of 2 events
      assert(all.contains((1L, 2L)) && all.contains((1L, 1L)) && all.contains((2L, 2L)))
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = Streams.dedupStream(
      mem.toDF().toDF("ts", "event_id", "payload"), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:00:00"), 1L, "a"), // in-batch dup
        (ts("2024-01-01 10:01:00"), 2L, "b"))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:00:00"), 1L, "a")) // cross-batch dup
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 10:05:00"), 3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup").collect().map(_.getLong(1)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("windowed upsert sink re-materializes only updated window partitions") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{window => fwindow}
    val mem = MemoryStream[(Timestamp, Long, String)]
    val path = tmpDir("wsink") + "/hourly"
    val ckpt = tmpDir("wsink_ckpt")
    def agg = mem.toDF().toDF("ts", "user_id", "event_type")
      .groupBy(fwindow(col("ts"), "1 hour").getField("start").as("w"))
      .agg(count(lit(1)).as("n"))
    // batch 1: two windows
    mem.addData(sample: _*)
    Streams.upsertWindowsToGraftTable(agg, path, ckpt, "w").awaitTermination()
    val t = GraftTable(spark, path)
    def state = t.toDf().collect()
      .map(r => (r.getAs[Timestamp]("w").toString, r.getAs[Long]("n"))).toMap
    assert(state == Map(
      "2024-01-01 09:00:00.0" -> 2L, "2024-01-01 10:00:00.0" -> 2L,
      "2024-01-01 11:00:00.0" -> 1L))
    // batch 2: one more event in the 10:00 window -> only that partition
    // re-materializes (count becomes 3), other windows untouched
    mem.addData((ts("2024-01-01 10:20:00"), 3L, "view"))
    Streams.upsertWindowsToGraftTable(agg, path, ckpt, "w").awaitTermination()
    assert(state == Map(
      "2024-01-01 09:00:00.0" -> 2L, "2024-01-01 10:00:00.0" -> 3L,
      "2024-01-01 11:00:00.0" -> 1L))
    val lastCommit = t.history().head
    assert(lastCommit.operationMetrics("num_removed_files") == 1L)
  }

  test("stream to graft table is exactly-once per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val path = tmpDir("graft_stream") + "/events"
    val ckpt = tmpDir("graft_ckpt")
    mem.addData(sample: _*)
    val q1 = Streams.toGraftTable(mem.toDF().toDF("ts", "user_id", "event_type"), path, ckpt)
    q1.awaitTermination()
    assert(GraftTable(spark, path).toDf().count() == 5)
    // restart from the same checkpoint: no new data => no new commits
    val q2 = Streams.toGraftTable(mem.toDF().toDF("ts", "user_id", "event_type"), path, ckpt)
    q2.awaitTermination()
    assert(GraftTable(spark, path).toDf().count() == 5)
    // new data appends once
    mem.addData((ts("2024-01-01 12:00:00"), 3L, "click"))
    val q3 = Streams.toGraftTable(mem.toDF().toDF("ts", "user_id", "event_type"), path, ckpt)
    q3.awaitTermination()
    assert(GraftTable(spark, path).toDf().count() == 6)
  }

  test("per-trigger small files: OPTIMIZE bin-packs them; autoCompact bounds them online") {
    implicit val sqlCtx = spark.sqlContext
    import graft.io.GraftWriter

    // 4 single-batch streams = 4 append commits = >= 4 small files
    val mem = MemoryStream[(Timestamp, Long, String)]
    val path = tmpDir("graft_smallfiles") + "/t"
    val ckpt = tmpDir("graft_smallfiles_ckpt")
    (1 to 4).foreach { i =>
      mem.addData((ts(s"2024-01-0$i 10:00:00"), i.toLong, "click"))
      Streams.toGraftTable(mem.toDF().toDF("ts", "user_id", "event_type"),
        path, ckpt).awaitTermination()
    }
    val t = GraftTable(spark, path)
    val before = t.snapshot().files.size
    assert(before >= 4, s"expected one file per epoch, got $before")

    // offline compaction sweeps them into ~maxRecordsPerFile-row files
    GraftWriter.optimize(spark, path)
    assert(t.snapshot().files.size == 1)
    assert(t.toDf().count() == 4)

    // autoCompact: same stream shape, threshold 3 — the sink compacts
    // inline once any partition accumulates 3 files, so the count never
    // reaches the uncompacted 4
    val mem2 = MemoryStream[(Timestamp, Long, String)]
    val path2 = tmpDir("graft_autocompact") + "/t"
    val ckpt2 = tmpDir("graft_autocompact_ckpt")
    (1 to 4).foreach { i =>
      mem2.addData((ts(s"2024-01-0$i 10:00:00"), i.toLong, "click"))
      Streams.toGraftTable(mem2.toDF().toDF("ts", "user_id", "event_type"),
        path2, ckpt2, autoCompactMinFiles = 3).awaitTermination()
    }
    val t2 = GraftTable(spark, path2)
    assert(t2.snapshot().files.size < 4,
      s"autoCompact never fired: ${t2.snapshot().files.size} files")
    assert(t2.toDf().count() == 4)
    // history shows OPTIMIZE commits interleaved with the appends
    assert(t2.history().exists(_.operation == "OPTIMIZE"))
  }

  test("readChangeFeed stream surfaces per-commit change rows") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    import graft.merge.Dml
    val p = tmpDir("graft_cdf_stream") + "/t"
    GraftWriter.write(spark,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))          // v0
    Dml.update(spark, p, col("id") === 1L, Map("v" -> lit(11.0))) // v1
    Dml.delete(spark, p, col("id") === 3L)                        // v2
    val q = spark.readStream.format("graft").option("path", p)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdfs").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    def rows() = spark.table("cdfs")
      .select("id", "v", graft.io.Cdc.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows() == Set(
      (1L, 10.0, "insert"), (2L, 20.0, "insert"), (3L, 30.0, "insert"),
      (1L, 10.0, "update_preimage"), (1L, 11.0, "update_postimage"),
      (3L, 30.0, "delete")))
    // subsequent commits stream incrementally (no re-delivery)
    val q2 = spark.readStream.format("graft").option("path", p)
      .option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdfs2").outputMode("append")
      .start()
    try {
      q2.processAllAvailable()
      Dml.update(spark, p, col("id") === 2L, Map("v" -> lit(22.0))) // v3
      q2.processAllAvailable()
    } finally q2.stop()
    val batch2 = spark.table("cdfs2")
      .select("id", "v", graft.io.Cdc.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(batch2.contains((2L, 20.0, "update_preimage")))
    assert(batch2.contains((2L, 22.0, "update_postimage")))
    assert(batch2.count { case (id, _, t) => id == 2L && t.startsWith("update") } == 2)
  }

  test("stream-stream interval join matches pairs within the window only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val views = MemoryStream[(Timestamp, Long, String)]
    clicks.addData(
      (ts("2024-01-01 10:00:00"), 1L, "click_a"),
      (ts("2024-01-01 12:00:00"), 2L, "click_b"))
    views.addData(
      (ts("2024-01-01 10:10:00"), 1L, "view_in_window"),
      (ts("2024-01-01 11:00:00"), 1L, "view_too_late"),
      (ts("2024-01-01 12:05:00"), 2L, "view_in_window2"),
      (ts("2024-01-01 12:05:00"), 9L, "view_wrong_key"))
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("ts", "user_id", "event_type"),
      views.toDF().toDF("ts", "user_id", "event_type"),
      key = "user_id", valueCols = Seq("event_type"))
    val q = joined.writeStream.format("memory").queryName("ivj")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("ivj")
      .select("event_type", "r_event_type")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(
      ("click_a", "view_in_window"),
      ("click_b", "view_in_window2")))
  }

  test("readStream.format(graft) round-trips sink -> source exactly once") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    val src = tmpDir("graft_rs") + "/src"
    val dst = tmpDir("graft_rs") + "/dst"
    val ckpt = tmpDir("graft_rs_ckpt")
    // three separate commits on the source table
    (1 to 3).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), src,
        WriteOptions(mode = WriteMode.Append))
    }
    def run(): Unit = {
      val stream = spark.readStream.format("graft").load(src)
      val q = Streams.toGraftTable(stream, dst, ckpt)
      q.awaitTermination()
    }
    run()
    val first = GraftTable(spark, dst).toDf()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(first == Set((1L, "v1"), (2L, "v2"), (3L, "v3")))
    // restart with nothing new: no duplicates
    run()
    assert(GraftTable(spark, dst).toDf().count() == 3)
    // two more commits on the source; only they flow through
    (4 to 5).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), src,
        WriteOptions(mode = WriteMode.Append))
    }
    run()
    val after = GraftTable(spark, dst).toDf()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after == (1 to 5).map(i => (i.toLong, s"v$i")).toSet)
    // startingVersion narrows the initial load
    val fromV2 = spark.readStream.format("graft")
      .option("startingVersion", 2).load(src)
    val dst2 = tmpDir("graft_rs") + "/dst2"
    val q2 = Streams.toGraftTable(fromV2, dst2, tmpDir("graft_rs_ckpt2"))
    q2.awaitTermination()
    assert(GraftTable(spark, dst2).toDf()
      .collect().map(_.getLong(0)).toSet == Set(3L, 4L, 5L))

    // maxCommitsPerTrigger: the 5-commit catch-up proceeds in bounded
    // batches (AvailableNow drains them all; each sink commit = 1 batch)
    val dst3 = tmpDir("graft_rs") + "/dst3"
    val limited = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", 2).load(src)
    val q3 = Streams.toGraftTable(limited, dst3, tmpDir("graft_rs_ckpt3"))
    q3.awaitTermination()
    val t3 = GraftTable(spark, dst3)
    assert(t3.toDf().count() == 5)
    val batches = t3.history().count(_.metadata.contains("streaming_batch_id"))
    assert(batches >= 3, s"expected >=3 bounded micro-batches, got $batches")
  }

  test("new stream into a table with legacy batch-0 history loses nothing") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    // a PRE-TXN build's sink left streaming_batch_id=0 metadata and no
    // txn marker; a brand-new stream (fresh checkpoint, batchId 0) into
    // this table must WRITE its first batch — the old legacy guard
    // matched on bare batch-id equality and silently dropped it forever
    val src = tmpDir("graft_leg") + "/src"
    val dst = tmpDir("graft_leg") + "/dst"
    GraftWriter.write(spark, Seq((100L, "legacy")).toDF("k", "v"), dst,
      WriteOptions(mode = WriteMode.Append,
        metadata = Map("streaming_batch_id" -> "0")))
    GraftWriter.write(spark, Seq((1L, "new")).toDF("k", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    val q = Streams.toGraftTable(
      spark.readStream.format("graft").load(src), dst,
      tmpDir("graft_leg_ckpt"))
    q.awaitTermination()
    assert(GraftTable(spark, dst).toDf().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((100L, "legacy"), (1L, "new")),
      "the new stream's first batch was dropped by the legacy guard")
  }

  test("maxFilesPerTrigger and maxBytesPerTrigger bound catch-up batches") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val src = tmpDir("graft_adm") + "/src"
    (1 to 6).foreach { i => // one file per commit
      GraftWriter.write(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), src,
        WriteOptions(mode = WriteMode.Append))
    }
    def endFrom(s: org.apache.spark.sql.graft.GraftStreamSource,
        start: Long): Long =
      s.latestOffset(LongOffset(start), s.getDefaultReadLimit)
        .asInstanceOf[LongOffset].offset
    // 2 files per trigger = 2 commits here (one file per commit)
    val byFiles = new org.apache.spark.sql.graft.GraftStreamSource(
      spark.sqlContext, src, startingVersion = None,
      maxFilesPerTrigger = Some(2L))
    assert(endFrom(byFiles, -1L) == 1L)
    assert(endFrom(byFiles, 1L) == 3L)
    // a tiny byte budget still admits at least one commit per batch
    val byBytes = new org.apache.spark.sql.graft.GraftStreamSource(
      spark.sqlContext, src, startingVersion = None,
      maxBytesPerTrigger = Some(1L))
    assert(endFrom(byBytes, -1L) == 0L)
    assert(endFrom(byBytes, 0L) == 1L)
    // end-to-end: AvailableNow drains everything in bounded batches
    val dst = tmpDir("graft_adm") + "/dst"
    val q = Streams.toGraftTable(
      spark.readStream.format("graft")
        .option("maxFilesPerTrigger", 2).load(src),
      dst, tmpDir("graft_adm_ckpt"))
    q.awaitTermination()
    val t = GraftTable(spark, dst)
    assert(t.toDf().count() == 6)
    assert(t.history().count(_.metadata.contains("streaming_batch_id")) >= 3)
  }

  test("readStream.table streams a catalog-named graft table") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    val root = tmpDir("graft_scat_root")
    spark.conf.set("spark.sql.catalog.scat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.scat.root", root)
    new java.io.File(s"$root/ns").mkdirs()
    val p = s"$root/ns/events"
    (1 to 3).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val q = spark.readStream.table("scat.ns.events")
      .writeStream.format("memory").queryName("cat_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("cat_stream").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // reader options flow through to the same V1 source
    val q2 = spark.readStream.option("startingVersion", 2)
      .table("scat.ns.events")
      .writeStream.format("memory").queryName("cat_stream2")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.table("cat_stream2").collect()
      .map(_.getLong(0)).toSet == Set(3L))
    // round trip: catalog source -> catalog sink, exactly once
    val q3 = Streams.toCatalogTable(
      spark.readStream.table("scat.ns.events"), "scat.ns.copy",
      tmpDir("graft_scat_ckpt"))
    q3.awaitTermination()
    assert(spark.sql("SELECT k FROM scat.ns.copy").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      Streams.toCatalogTable(spark.readStream.table("scat.ns.events"),
        "nocat.ns.t", tmpDir("ck"))
    }
  }

  test("writeStream.toTable appends exactly once via the DSv2 streaming write") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_wcat_root")
    spark.conf.set("spark.sql.catalog.wcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.wcat.root", root)
    new java.io.File(s"$root/ns").mkdirs()
    val p = s"$root/ns/sink"
    GraftWriter.write(spark,
      Seq.empty[(Long, String)].toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.ErrorIfExists))
    val ckpt = tmpDir("graft_wcat_ckpt")
    val mem = MemoryStream[(Long, String)]
    def drain(): String = {
      val q = mem.toDF().toDF("k", "v").writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("wcat.ns.sink")
      q.awaitTermination()
      q.id.toString
    }
    mem.addData((1L, "a"), (2L, "b"))
    drain()
    val t = GraftTable(spark, p)
    assert(t.toDf().collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // restart on the same checkpoint with nothing new: no duplicates
    drain()
    assert(t.toDf().count() == 2)
    // more data flows through as a new epoch commit
    mem.addData((3L, "c"))
    val queryId = drain()
    assert(t.toDf().collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // commits carry the audit fields, and the query's txn marker
    // records its last epoch
    val metas = t.history().flatMap(_.metadata.get("streaming_batch_id"))
    assert(metas.nonEmpty)
    assert(t.log.tableProperties()
      .get(graft.log.CommitLog.txnKey(graft.streaming.StreamingEpochs.appId(queryId)))
      .contains(metas.map(_.toLong).max.toString))
    // the result reads back through SQL and the native plan
    assert(spark.sql("SELECT count(*) FROM wcat.ns.sink").head().getLong(0) == 3L)
  }

  test("writeStream.toTable routes rows into hive partitions") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("graft_wpart_root")
    spark.conf.set("spark.sql.catalog.wpcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.wpcat.root", root)
    new java.io.File(s"$root/ns").mkdirs()
    val p = s"$root/ns/psink"
    GraftWriter.write(spark,
      Seq.empty[(Long, String)].toDF("k", "cat"), p,
      WriteOptions(mode = WriteMode.ErrorIfExists, partitionBy = Seq("cat")))
    val ckpt = tmpDir("graft_wpart_ckpt")
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"), (3L, "a"))
    val q = mem.toDF().toDF("k", "cat").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("wpcat.ns.psink")
    q.awaitTermination()
    val t = GraftTable(spark, p)
    val rows = t.toDf().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (3L, "a")))
    // commit metadata carries real partition values per file
    val partVals = t.snapshot().files.map(_.partitionValues("cat")).toSet
    assert(partVals == Set("a", "b"))
    // partition filter prunes to the matching files only
    assert(t.filesAfterPruning(Seq(graft.io.DataFilter("cat", graft.io.SkipOp.Eq, "b"))) == 1)
    // streamed files match the batch layout: partition column lives in
    // the directory name, not the file data
    val streamedFile = t.snapshot().files.head
    val raw = spark.read.parquet(
      new java.io.File(p, streamedFile.path).toString)
    assert(!raw.columns.contains("cat"), raw.columns.mkString(","))
  }

  test("epoch commit promotes only task-reported files (zombie attempts discarded)") {
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    val p = tmpDir("graft_zombie") + "/t"
    GraftWriter.write(spark, Seq((1L, "seed")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val stage = s"$p/_staging-stream-q1/0"
    // two staged files: one committed by its task, one zombie orphan
    Seq((2L, "good")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$stage/good")
    Seq((99L, "zombie")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$stage/orphan")
    def parquetIn(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().toSeq
        .map(_.toString).filter(_.endsWith(".parquet"))
    val goodFile = parquetIn(s"$stage/good").head
    graft.streaming.StreamingEpochs.commit(
      spark, p, stage, Seq(goodFile), "q1", 0L)
    val rows = GraftTable(spark, p).toDf()
      .collect().map(_.getLong(0)).toSet
    assert(rows == Set(1L, 2L)) // the orphan's row never landed
    assert(!new java.io.File(s"$p/_staging-stream-q1/0").exists())
    // replay of the same epoch is a no-op
    graft.streaming.StreamingEpochs.commit(
      spark, p, stage, Seq(goodFile), "q1", 0L)
    assert(GraftTable(spark, p).toDf().count() == 2)
  }

  test("an epoch commit that loses its version to a foreign commit lands once at the next") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    import graft.log.{CommitLog, LogJson, LogStore}
    import graft.streaming.StreamingEpochs
    val p = tmpDir("graft_epoch_race") + "/t"
    GraftWriter.write(spark, Seq((1L, "seed")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val stage = s"$p/_staging-stream-qr/0"
    Seq((2L, "epoch")).toDF("k", "v").coalesce(1).write.parquet(stage)
    val staged = new java.io.File(stage).listFiles().toSeq
      .map(_.toString).filter(_.endsWith(".parquet"))
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    val head = log.readCommit(log.latestVersion().get)
    // a valid foreign commit (an empty append carrying the table's
    // properties) lands at exactly the version the epoch commit claims
    val foreign = head.copy(version = head.version + 1,
      timestampMs = head.timestampMs + 1, operation = "FOREIGN",
      mode = "append", operationMetrics = Map.empty, add = Nil, remove = Nil)
    // session conf entries reach the Hadoop conf under their own key
    PlantingStore.plantBytes = LogJson.encode(foreign)
    spark.conf.set(LogStore.ConfKey, classOf[PlantingStore].getName)
    try StreamingEpochs.commit(spark, p, stage, staged, "qr", 0L)
    finally {
      spark.conf.unset(LogStore.ConfKey)
      PlantingStore.plantBytes = null
    }
    assert(log.latestVersion().contains(head.version + 2))
    assert(log.readCommit(head.version + 1).operation == "FOREIGN")
    val epoch = log.readCommit(head.version + 2)
    assert(epoch.metadata.get(StreamingEpochs.BatchIdKey).contains("0"))
    assert(epoch.add.size == 1)
    assert(log.tableProperties().get(CommitLog.txnKey(StreamingEpochs.appId("qr")))
      .contains("0"))
    assert(GraftTable(spark, p).toDf().collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // a replay of the epoch is a no-op
    StreamingEpochs.commit(spark, p, stage, staged, "qr", 0L)
    assert(log.latestVersion().contains(head.version + 2))
    assert(GraftTable(spark, p).toDf().count() == 2)
  }

  test("stream source fails loudly when retention cleaned checkpointed commits") {
    import graft.io.{GraftWriter, WriteMode, WriteOptions}
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val src = tmpDir("graft_ret") + "/src"
    // 25 commits -> checkpoints at v10 and v20; clean everything below v20
    (0 until 25).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), src,
        WriteOptions(mode = WriteMode.Append))
    }
    val log = new graft.log.CommitLog(src, spark.sessionState.newHadoopConf())
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    assert(log.cleanOldLogs(1000L, nowMs = future).nonEmpty)
    assert(log.versions().head == 20L)

    val source = new org.apache.spark.sql.graft.GraftStreamSource(
      spark.sqlContext, src, startingVersion = None)
    // a checkpoint that predates the retained log must throw, not skip
    val ex = intercept[IllegalStateException] {
      source.getBatch(Some(LongOffset(4L)), LongOffset(24L))
    }
    assert(ex.getMessage.contains("log retention"))
    // an explicit startingVersion below the boundary throws too
    val explicit = new org.apache.spark.sql.graft.GraftStreamSource(
      spark.sqlContext, src, startingVersion = Some(3L))
    intercept[IllegalStateException] {
      explicit.getBatch(None, LongOffset(24L))
    }
    // a BRAND-NEW stream (no checkpoint, no startingVersion) serves the
    // initial snapshot instead — the checkpointed snapshot fully
    // represents the cleaned commits
    val fresh = source.getBatch(None, LongOffset(24L))
    assert(fresh.isStreaming && fresh.schema.fieldNames.sameElements(Array("k", "v")))
    // a checkpoint inside the retained window still builds its batch
    val ok = source.getBatch(Some(LongOffset(19L)), LongOffset(24L))
    assert(ok.isStreaming && ok.schema.fieldNames.sameElements(Array("k", "v")))
    // fresh stream WITH admission control: the first proposed end version
    // is clamped into the retained window, not a cleaned commit
    val limited = new org.apache.spark.sql.graft.GraftStreamSource(
      spark.sqlContext, src, startingVersion = None,
      maxCommitsPerTrigger = Some(2L))
    val off = limited.latestOffset(null, limited.getDefaultReadLimit)
      .asInstanceOf[LongOffset]
    assert(off.offset >= 20L, s"admission proposed cleaned version ${off.offset}")
    val first = limited.getBatch(None, off)
    assert(first.isStreaming)
  }

  test("soak: graft -> session_window -> graft survives restarts across OPTIMIZE and DV DELETE") {
    import graft.io.{GraftWriter, GraftTable, WriteMode, WriteOptions}
    val src = tmpDir("graft_soak") + "/src"
    val dst = tmpDir("graft_soak") + "/dst"
    val ckpt = tmpDir("graft_soak_ckpt")
    def append(rows: (Timestamp, Long, String)*): Unit =
      GraftWriter.write(spark, rows.toDF("ts", "user_id", "event_type"), src,
        WriteOptions(mode = WriteMode.Append,
          metadata = Map("graft.dv" -> "true")))
    def run(): Unit = {
      val q = Streams.toGraftTable(
        Streams.sessionWindows(spark.readStream.format("graft").load(src)),
        dst, ckpt)
      q.awaitTermination()
    }
    // epoch 1: two source commits, then a stream run (delivers events;
    // no session closes before the watermark moves)
    append((ts("2024-01-01 10:00:00"), 1L, "view"),
      (ts("2024-01-01 10:10:00"), 1L, "view"))
    append((ts("2024-01-01 09:00:00"), 2L, "view"),
      (ts("2024-01-01 09:20:00"), 2L, "view"))
    run()
    // mid-stream maintenance on the SOURCE table:
    //  - OPTIMIZE compacts delivered files (must NOT re-deliver rows)
    //  - a DV DELETE drops an already-delivered row in place (append
    //    stream semantics: no retraction, no replay, no crash)
    GraftWriter.optimize(spark, src)
    assert(GraftTable(spark, src).history().exists(_.operation == "OPTIMIZE"))
    graft.merge.Dml.delete(spark, src, col("ts") === ts("2024-01-01 09:00:00"))
    assert(GraftTable(spark, src).toDf().count() == 3, "DV delete applied")
    //  - REORG (DV purge) rewrites the soft-deleted file into a NEW
    //    path — a pure rearrangement of already-delivered rows that the
    //    stream must skip like OPTIMIZE (the purged file's live rows
    //    would replay otherwise)
    GraftWriter.reorgPurge(spark, src)
    assert(GraftTable(spark, src).history().head.operation == "REORG")
    assert(GraftTable(spark, src).snapshot().files.forall(_.dv.isEmpty))
    // epoch 2: new events (a new u1 session, a u3 singleton), restart
    append((ts("2024-01-01 11:30:00"), 1L, "click"),
      (ts("2024-01-01 09:05:00"), 3L, "view"))
    run()
    // close everything: a far-future watermark pusher, then one more
    // commit per run so append-mode emission has a batch to fire in
    append((ts("2024-01-05 00:00:00"), 999L, "view"))
    run()
    append((ts("2024-01-05 00:00:01"), 999L, "view"))
    run()
    val out = GraftTable(spark, dst).toDf()
      .filter(col("user_id") < 999L)
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3))).toSet
    // the DELETE removed a DELIVERED event — sessions reflect what the
    // stream consumed (u2 still counts 2 events), and OPTIMIZE added
    // nothing: each session appears exactly once
    assert(out == Set(
      (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L),
      (1L, "2024-01-01 11:30:00.0", "2024-01-01 12:00:00.0", 1L),
      (2L, "2024-01-01 09:00:00.0", "2024-01-01 09:50:00.0", 2L),
      (3L, "2024-01-01 09:05:00.0", "2024-01-01 09:35:00.0", 1L)),
      s"unexpected sessions: $out")
    // a restart with nothing new neither duplicates nor drops
    val before = GraftTable(spark, dst).toDf().count()
    run()
    assert(GraftTable(spark, dst).toDf().count() == before)
  }

  test("file/byte caps split the initial snapshot across triggers") {
    import graft.io.{GraftWriter, GraftTable, WriteMode, WriteOptions}
    import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
    val src = tmpDir("graft_isnap") + "/src"
    (0 until 25).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, s"v$i")).toDF("k", "v"), src,
        WriteOptions(mode = WriteMode.Append))
    }
    val log = new graft.log.CommitLog(src, spark.sessionState.newHadoopConf())
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    assert(log.cleanOldLogs(1000L, nowMs = future).nonEmpty)
    val oldest = log.versions().head
    assert(oldest == 20L)
    val snapFiles = log.snapshot(Some(oldest)).files.size // 21 live files

    // unit: a fresh capped stream proposes snapshot-phase offsets, 2
    // files at a time, then falls through to commit replay
    val s = new org.apache.spark.sql.graft.GraftStreamSource(
      spark.sqlContext, src, startingVersion = None,
      maxFilesPerTrigger = Some(2L))
    val o1 = s.latestOffset(null, s.getDefaultReadLimit)
    assert(o1.json == s"""{"v":$oldest,"i":2}""", s"got ${o1.json}")
    val b1 = s.getBatch(None,
      org.apache.spark.sql.execution.streaming.runtime.SerializedOffset(o1.json))
    assert(b1.isStreaming)
    // chunks advance deterministically from a (restart-shaped) offset
    val o2 = s.latestOffset(SerializedOffset(o1.json), s.getDefaultReadLimit)
    assert(o2.json == s"""{"v":$oldest,"i":4}""")
    // a completed phase hands over to commit replay
    val done = SerializedOffset(s"""{"v":$oldest,"i":$snapFiles}""")
    val o3 = s.latestOffset(done, s.getDefaultReadLimit)
    assert(!o3.json.trim.startsWith("{"), s"expected version offset, got ${o3.json}")
    assert(o3.json.toLong >= oldest)

    // end-to-end: AvailableNow drains snapshot + tail commits exactly
    // once, in many bounded batches
    val dst = tmpDir("graft_isnap") + "/dst"
    val q = Streams.toGraftTable(
      spark.readStream.format("graft")
        .option("maxFilesPerTrigger", 2).load(src),
      dst, tmpDir("graft_isnap_ckpt"))
    q.awaitTermination()
    val t = GraftTable(spark, dst)
    assert(t.toDf().collect().map(_.getLong(0)).toSet ==
      (0L until 25L).toSet, "every row exactly once")
    val batches = t.history().count(_.metadata.contains("streaming_batch_id"))
    assert(batches >= 10, s"expected many bounded batches, got $batches")
  }
}
