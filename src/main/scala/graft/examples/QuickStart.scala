package graft.examples

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core._
import graft.io._
import graft.merge._

/** Tour of the public surface on real testdata — run with:
  * {{{
  * sbt "runMain graft.examples.QuickStart /root/testdata/sf0.001 /tmp/graft-demo"
  * }}}
  */
object QuickStart {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.LocalSession(4)

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val table = s"$out/lineitem"

    // 1. create a partitioned graft table
    val v0 = GraftWriter.write(spark, lineitem, table,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("l_returnflag"),
        metadata = Map("author" -> "quickstart")))
    println(s"[1] wrote version $v0; stats:")
    GraftTable(spark, table).stats().show(truncate = false)

    // 2. partition-scoped overwrite: replace flag 'A' with doubled quantity
    val v1 = GraftWriter.write(spark,
      lineitem.filter(col("l_returnflag") === "A")
        .withColumn("l_quantity", col("l_quantity") * 2),
      table,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("l_returnflag"),
        replaceWhere = Some(col("l_returnflag") === "A")))
    println(s"[2] replaceWhere committed version $v1")

    // 3. sliced read: static partition keys + projection + time window
    val slice = TableSlice("public", "lineitem",
      partitionDimensions = Seq(
        StaticDimension("l_returnflag", Seq("A", "R")),
        TimeWindowDimension("l_shipdate", Seq(TimeWindow(
          Timestamp.valueOf("1995-01-01 00:00:00"),
          Timestamp.valueOf("1997-01-01 00:00:00"))))),
      columns = Some(Seq("l_returnflag", "l_quantity", "l_shipdate")))
    val sliced = GraftTable(spark, table).scan(slice)
    println(s"[3] sliced scan rows=${sliced.count()}")
    sliced.groupBy("l_returnflag").agg(sum("l_quantity").as("qty")).show()

    // 4. time travel: version 0 still has original quantities
    val q0 = GraftTable(spark, table).toDf(Some(0L))
      .filter(col("l_returnflag") === "A").agg(sum("l_quantity")).first().getDouble(0)
    val q1 = GraftTable(spark, table).toDf()
      .filter(col("l_returnflag") === "A").agg(sum("l_quantity")).first().getDouble(0)
    println(f"[4] time travel: sum(qty|A) v0=$q0%.1f latest=$q1%.1f (expect 2x)")

    // 5. merge: upsert modified rows by key
    val src = lineitem.filter(col("l_orderkey") % 100 === 0)
      .withColumn("l_tax", lit(0.99))
    val stats = MergeExecutor.merge(spark, src, table,
      MergeConfig(MergeType.Upsert,
        "s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber"))
    println(s"[5] upsert: $stats")
    println("[5] history:")
    GraftTable(spark, table).history().foreach(c =>
      println(s"    v${c.version} ${c.operation}/${c.mode} " +
        s"metrics=${c.operationMetrics} meta=${c.metadata}"))

    // 6. IO manager: asset-key -> slice resolution, schema-folder layout
    import graft.manager._
    import TypeHandlers._
    val mgr = new GraftIOManager(spark, s"$out/warehouse")
    val key = AssetKey(Seq("analytics", "daily_orders"))
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    mgr.handleOutput(OutputContext(key), orders)
    val loaded = mgr.loadInput[org.apache.spark.sql.DataFrame](
      OutputContext(key, columns = Some(Seq("o_orderkey", "o_totalprice"))))
    println(s"[6] manager round trip: cols=${loaded.columns.mkString(",")} rows=${loaded.count()}")

    // 7. streaming: events parquet replayed as a file stream into a table
    import graft.streaming.Streams
    val eventsDir = s"$out/events_in"
    locally {
      // events.ts is TIMESTAMP(NANOS) in some testdata generations (read
      // as a nanos long under nanosAsLong) and plain µs in others —
      // normalize by the actual read type, like SparkEntry.tEvents
      val rawEvents = spark.read.parquet(s"$sfDir/events.parquet")
      // the cast to TIMESTAMP (from NTZ; session TZ is UTC, so values
      // are preserved) keeps the stream watermark-able below
      val evts = rawEvents.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          rawEvents.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => rawEvents.withColumn("ts", col("ts").cast("timestamp"))
      }
      evts.write.parquet(eventsDir)
    }
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema).parquet(eventsDir)
    val q = Streams.toGraftTable(stream, s"$out/events_table", s"$out/ckpt")
    q.awaitTermination()
    println(s"[7] streamed events -> graft table rows=" +
      GraftTable(spark, s"$out/events_table").toDf().count())

    // 7b. stateful sessionization over the same file stream
    import spark.implicits._
    import graft.streaming.SessionEvent
    val sessQ = Streams.statefulSessions(
      spark.readStream.schema(schema).parquet(eventsDir)
        .select(col("user_id"), col("ts")).as[SessionEvent])
      .writeStream.format("memory").queryName("qs_sessions")
      .outputMode("append").start()
    sessQ.processAllAvailable()
    sessQ.stop()
    println(s"[7b] stateful sessions closed so far: " +
      spark.table("qs_sessions").count())

    // 7c. streaming dedup: the same events file fed twice collapses back
    // to the unique set
    val dupDir = s"$out/events_dup"
    spark.read.parquet(eventsDir).write.parquet(dupDir)
    spark.read.parquet(eventsDir).write.mode("append").parquet(dupDir)
    val dq = Streams.dedupStream(
      spark.readStream.schema(schema).parquet(dupDir), Seq("event_id"))
      .writeStream.format("memory").queryName("qs_dedup")
      .outputMode("append").start()
    dq.processAllAvailable()
    dq.stop()
    println(s"[7c] streaming dedup: ${spark.read.parquet(dupDir).count()} in -> " +
      s"${spark.table("qs_dedup").count()} unique out")

    // 8. coordinated write: branch -> gate -> promote (lakeFS-style flow)
    val coord = new RetryingCoordinator(
      new BranchingCoordinator(gate = _.count() > 0), baseBackoffMs = 10)
    val cpath = s"$out/coordinated/suppliers"
    coord.coordinate(spark, cpath) { branchPath =>
      GraftWriter.write(spark, spark.read.parquet(s"$sfDir/supplier.parquet"),
        branchPath, WriteOptions(mode = WriteMode.Overwrite))
    }
    println(s"[8] coordinated write: rows=" +
      GraftTable(spark, cpath).toDf().count() +
      s" promoted_from=${GraftTable(spark, cpath).history().head.metadata.contains("promoted_from")}")

    // 9. vacuum: drop files only referenced by versions older than the
    // last two (v0's originals were replaced in steps 2 and 5)
    val deleted = GraftTable(spark, table).vacuum(retainVersions = 2)
    println(s"[9] vacuum removed ${deleted.size} files; " +
      s"latest still reads ${GraftTable(spark, table).toDf().count()} rows")

    // 10. direct table resource handle (storage-config plumbing + pinned
    // version), reading with explicit parquet options
    val resource = new GraftTableResource(cpath, graft.config.LocalConfig())
    val handle = resource.load(spark, version = Some(0L))
    println(s"[10] resource v${handle.version()} rows=" +
      handle.toDf(Some(0L), Map("mergeSchema" -> "false")).count())

    // 11. data skipping: range-clustered write, file-pruned point read
    val skipPath = s"$out/orders_by_key"
    GraftWriter.write(spark,
      orders.repartitionByRange(8, col("o_orderkey")), skipPath,
      WriteOptions(mode = WriteMode.Overwrite))
    val st = GraftTable(spark, skipPath)
    val fAll = st.snapshot().files.size
    val filt = Seq(DataFilter("o_orderkey", SkipOp.Ge, 1400L))
    println(s"[11] data skipping: ${st.filesAfterPruning(filt)} of $fAll files read, " +
      s"rows=${st.scanPruned(filt).count()}")

    // 12. compaction: many small appends -> OPTIMIZE -> one file/partition
    val smallPath = s"$out/small_appends"
    (1 to 6).foreach { i =>
      GraftWriter.write(spark,
        spark.createDataFrame(Seq((i.toLong, s"row$i"))).toDF("id", "s"),
        smallPath, WriteOptions(mode = WriteMode.Append))
    }
    val before = GraftTable(spark, smallPath).snapshot().files.size
    GraftWriter.optimize(spark, smallPath)
    println(s"[12] optimize: $before files -> " +
      s"${GraftTable(spark, smallPath).snapshot().files.size}, rows=" +
      GraftTable(spark, smallPath).toDf().count())

    // 13. multimodal pipeline: synthetic PNG fixtures -> REAL ImageIO
    // decode -> average-pool resize -> re-decode (frame sampling stays a
    // named stub: the JDK ships no video codec)
    import graft.ext.Multimodal
    val mediaDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val media = Multimodal.syntheticImages(mediaDocs)
    val feats = Multimodal.decodeImages(media)
    val okDecodes = feats.filter(_.decoded).count()
    val resized = Multimodal.decodeImages(Multimodal.resizePooled(media, 4, 4))
    val frames = Multimodal.frameSampleStub(
      Multimodal.fromDocuments(mediaDocs), frameBytes = 64, stride = 2)
    println(s"[13] multimodal: $okDecodes/${media.count()} PNGs decoded, " +
      s"${resized.filter(f => f.decoded && f.width == 4 && f.height == 4).count()} " +
      s"pooled to 4x4, ${frames.count()} sampled frames")

    // 14. the registered data source format: plain spark.read + SQL
    val gsrc = spark.read.format("graft").load(table)
    gsrc.createOrReplaceTempView("graft_lineitem")
    val n = spark.sql(
      "SELECT count(*) FROM graft_lineitem WHERE l_quantity > 25").first().getLong(0)
    // v1 is the oldest vacuum-retained version (v0's files were reclaimed in [9])
    println(s"[14] format(graft): rows=${gsrc.count()}, qty>25 via SQL=$n, " +
      s"v1=${spark.read.format("graft").option("versionAsOf", 1).load(table).count()}")

    // 15. co-located bucketed tables: point lookup + bucket-wise join
    val bo = s"$out/bucketed/orders"
    val bl = s"$out/bucketed/lineitem"
    Bucketing.write(spark, orders, bo, "o_orderkey", 8)
    Bucketing.write(spark, lineitem.select("l_orderkey", "l_quantity"), bl,
      "l_orderkey", 8)
    val tOrders = GraftTable(spark, bo)
    println(s"[15] bucketed lookup key=42: " +
      s"${Bucketing.filesForLookup(tOrders, 42L)} of ${tOrders.snapshot().files.size} files; " +
      s"bucket-wise join rows=" +
      Bucketing.join(tOrders, GraftTable(spark, bl)).count())

    // 16. optimizer rule: a user-written HOF dot-product fold in plain
    // SQL is rewritten to the native codegen expression
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb")
    val hof = spark.sql(
      """SELECT vec_id, aggregate(zip_with(embedding, embedding,
        |  (x, y) -> double(x) * double(y)), 0D, (acc, v) -> acc + v) AS norm2
        |FROM emb ORDER BY vec_id LIMIT 1""".stripMargin)
    val rewritten = hof.queryExecution.optimizedPlan.toString.contains("graft_dot")
    println(s"[16] optimizer rewrite applied=$rewritten " +
      s"norm2(vec 0)=${hof.first().getDouble(1)}")

    // 17. range-clustering compaction: point queries skip to one file
    val zt = s"$out/clustered"
    GraftWriter.write(spark,
      spark.range(0, 4000).select((col("id") * 2654435761L % 4000).as("k"),
        col("id").as("v")).repartition(8),
      zt, WriteOptions(mode = WriteMode.Overwrite))
    val ztable = GraftTable(spark, zt)
    val zfilt = Seq(DataFilter("k", SkipOp.Eq, 1234L))
    val zBefore = ztable.filesAfterPruning(zfilt)
    GraftWriter.optimizeCluster(spark, zt, Seq("k"), maxRecordsPerFile = 500)
    println(s"[17] optimizeCluster: point query reads " +
      s"${ztable.filesAfterPruning(zfilt)} of ${ztable.snapshot().files.size} files " +
      s"(was $zBefore of 8)")

    // 18. streaming READ of a graft table: tail the commit log
    val streamed = spark.readStream.format("graft")
      .option("maxCommitsPerTrigger", 2).load(bo)
    val echo = s"$out/stream_echo"
    val echoQ = graft.streaming.Streams.toGraftTable(
      streamed, echo, s"$out/stream_echo_ckpt")
    echoQ.awaitTermination()
    println(s"[18] readStream(graft) -> sink: rows=" +
      s"${GraftTable(spark, echo).toDf().count()} " +
      s"(source rows=${GraftTable(spark, bo).toDf().count()})")

    // 19. commit-log checkpoint: replay reads 1 checkpoint + suffix
    val log = new graft.log.CommitLog(table, spark.sessionState.newHadoopConf())
    println(s"[19] log versions=${log.versions().size}, " +
      s"checkpoints at=${log.checkpointVersions().mkString(",")}")

    // 20. RESTORE: undo a corrupting overwrite (metadata-only commit)
    val rt = s"$out/restoreme"
    GraftWriter.write(spark, spark.range(0, 100).toDF("n"), rt,
      WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, spark.range(0, 1).toDF("n"), rt,
      WriteOptions(mode = WriteMode.Overwrite)) // oops
    val rtab = GraftTable(spark, rt)
    rtab.restore(0L)
    println(s"[20] restore: v${rtab.version()} reads ${rtab.toDf().count()} rows " +
      "(bad v1 still time-travelable: " + rtab.toDf(Some(1L)).count() + " row)")

    // 21. change data feed between versions (churned files only)
    val ch = rtab.tableChanges(1L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[21] tableChanges(v1->v2): $ch")

    // 22. near-dup pipeline: pairs -> clusters -> canonical survivors
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = graft.ext.Dedup.minhashPairs(docs)
    val comp = graft.ext.Dedup.components(pairs)
    val kept = graft.ext.Dedup.canonicalFromComponents(docs, comp)
    println(s"[22] near-dup: ${pairs.count()} candidate pairs, " +
      s"${comp.select("component").distinct().count()} clusters, " +
      s"${docs.count() - kept.count()} docs dropped by canonical dedup")

    // 23. deterministic hash sampling: stable across runs and tables
    val ordersTbl = spark.read.parquet(s"$sfDir/orders.parquet")
    val s1 = graft.ext.Sampling.hashSample(ordersTbl, "o_orderkey", 100).count()
    val s2 = graft.ext.Sampling.hashSample(ordersTbl, "o_orderkey", 100).count()
    println(s"[23] hash sample 100 permille: $s1 rows (rerun: $s2 — identical)")

    // 24. PII scrub over crafted text
    import spark.implicits._
    val pii = graft.ext.TextAnalysis.piiScrub(
      Seq((1L, "mail a@b.org from 10.0.0.1")).toDF("doc_id", "text")).first()
    println(s"[24] pii scrub: emails=${pii.getLong(1)} ips=${pii.getLong(2)} " +
      s"redacted_len=${pii.getLong(5)}")

    // 25. chunking + sequence packing: corpus -> training sequences
    val chunks = graft.ext.Chunking.chunk(docs, 120, 20)
    val packed = graft.ext.Chunking.packSequences(docs, 512, 16)
    println(s"[25] chunking: ${docs.count()} docs -> ${chunks.count()} windows; " +
      s"packing: ${packed.select("shard", "seq_id").distinct().count()} " +
      "sequences at 512-token budget")

    // 26. dynamic partition overwrite + SQL ALTER TABLE on a path target
    val dpo = s"$out/dpo"
    GraftWriter.write(spark,
      Seq(("red", 1L), ("blue", 2L)).toDF("color", "n"), dpo,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("color")))
    GraftWriter.write(spark, Seq(("red", 9L)).toDF("color", "n"), dpo,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("color"),
        dynamicPartitionOverwrite = true))
    spark.sql(s"ALTER TABLE graft.`$dpo` ADD COLUMNS (note STRING)")
    spark.sql(s"ALTER TABLE graft.`$dpo` SET TBLPROPERTIES ('graft.cdf'='true')")
    val dpoRows = spark.sql(
      s"SELECT color, n, note FROM graft.`$dpo` ORDER BY color").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[26] dynamic overwrite kept blue, replaced red: $dpoRows; " +
      s"cdf=${graft.io.Cdc.enabled(GraftTable(spark, dpo).log.tableProperties())}")

    // 27. product quantization: 16x smaller vectors, ADC top-k through
    // codes alone
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val pq = graft.ext.Similarity.pqTopK(embs, col("vec_id") < 4, 3)
    println(s"[27] PQ ADC top-3 for 4 queries: ${pq.count()} neighbors; " +
      s"codes/vec=${graft.ext.Similarity.pqEncode(embs).select(size(col("codes"))).head().getInt(0)}")

    // 28. skew-aware join + BM25 + gopher quality rules
    val sj = graft.ext.Skew.skewJoin(
      docs.select(col("source").as("k"), col("doc_id")),
      docs.groupBy(col("source").as("k")).count(), Seq("k"), hotThreshold = 10)
    val bm = graft.ext.TextAnalysis.bm25(docs, Seq("spark", "query"))
    val keep = graft.ext.TextAnalysis.gopherRules(docs, minWords = 10)
      .filter(col("keep")).count()
    println(s"[28] skew join rows=${sj.count()}; bm25 matched=${bm.count()} " +
      s"docs; gopher keeps $keep/${docs.count()}")

    // 29. readChangeFeed stream: the dpo table's commits as change rows
    val cdfQ = graft.streaming.Streams.readChangeFeed(spark, dpo)
      .writeStream.format("memory").queryName("qs_cdf").outputMode("append")
      .start()
    try cdfQ.processAllAvailable() finally cdfQ.stop()
    val byType = spark.table("qs_cdf").groupBy("_change_type").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    println(s"[29] change-feed stream: $byType")

    // 30. TRUNCATE is metadata-only; time travel still reads v0
    spark.sql(s"TRUNCATE TABLE graft.`$dpo`")
    println(s"[30] truncate: now=${GraftTable(spark, dpo).toDf().count()} rows, " +
      s"v0 still reads ${spark.sql(s"SELECT * FROM graft.`$dpo` VERSION AS OF 0").count()}")

    // 31. deletion vectors: merge-on-read point deletes — no file
    // rewrite, reads anti-filter on (file, row_index); OPTIMIZE purges
    val dvp = s"$out/dv_orders"
    GraftWriter.write(spark, orders.select("o_orderkey", "o_totalprice"), dvp,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.DeletionVectors.PropKey -> "true")))
    val filesBefore = GraftTable(spark, dvp).snapshot().files.map(_.path).toSet
    graft.merge.Dml.delete(spark, dvp, col("o_totalprice") > 150000.0)
    val dvSnap = GraftTable(spark, dvp).snapshot()
    val dvReused = dvSnap.files.forall(f => filesBefore(f.path))
    val dvCard = dvSnap.files.flatMap(_.dv).map(_.cardinality).sum
    GraftWriter.optimize(spark, dvp)
    println(s"[31] deletion vectors: $dvCard rows deleted in-place " +
      s"(files reused=$dvReused), live=${GraftTable(spark, dvp).toDf().count()}, " +
      s"optimize purged=${GraftTable(spark, dvp).snapshot().files.forall(_.dv.isEmpty)}")

    // 32. shallow clone: zero-copy dev snapshot — no data files copied,
    // clone-side DML diverges locally, the source never changes
    val clp = s"$out/orders_clone"
    spark.sql(s"CREATE TABLE graft.`$clp` SHALLOW CLONE graft.`$dvp`")
    val cloneParquets = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(clp))
    }
    val srcBefore = GraftTable(spark, dvp).toDf().count()
    graft.merge.Dml.delete(spark, clp, col("o_totalprice") > 100000.0)
    println(s"[32] shallow clone: $cloneParquets data files copied, " +
      s"clone=${GraftTable(spark, clp).toDf().count()} rows after local delete, " +
      s"source still=${GraftTable(spark, dvp).toDf().count()} (was $srcBefore)")

    // 33. deep clone + RESTORE TO TIMESTAMP: a self-contained physical
    // copy (executors move the bytes), then rewind it by wall clock
    val dcp = s"$out/orders_deep_clone"
    spark.sql(s"CREATE TABLE graft.`$dcp` DEEP CLONE graft.`$clp`")
    val preDelRows = GraftTable(spark, dcp).toDf().count()
    val v0At = java.time.Instant
      .ofEpochMilli(GraftTable(spark, dcp).history()
        .find(_.version == 0L).get.timestampMs)
      .atZone(java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone))
      .toLocalDateTime.format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    graft.merge.Dml.delete(spark, dcp, col("o_totalprice") > 50000.0)
    val afterDel = GraftTable(spark, dcp).toDf().count()
    spark.sql(s"RESTORE graft.`$dcp` TO TIMESTAMP AS OF '$v0At'")
    val localRefs = GraftTable(spark, dcp).snapshot().files
      .forall(f => !GraftTable.isExternalRef(f.path))
    println(s"[33] deep clone: self-contained=$localRefs, " +
      s"rows=${GraftTable(spark, dcp).toDf().count()} (was $preDelRows, " +
      s"deleted down to $afterDel, rewound by RESTORE TIMESTAMP AS OF)")

    // 34. generated + identity columns: declared as carried-forward
    // properties; writes that omit them get them computed/assigned,
    // writes that supply a generated column are validated against the
    // expression, and identity values stay unique across appends
    val genp = s"$out/orders_generated"
    GraftWriter.write(spark,
      orders.select("o_orderkey", "o_totalprice", "o_orderdate"), genp,
      WriteOptions(mode = WriteMode.Overwrite, metadata = Map(
        "graft.generated.o_year" -> "CAST(year(o_orderdate) AS BIGINT)",
        "graft.identity.rid" -> "1,1")))
    GraftWriter.write(spark,
      orders.select("o_orderkey", "o_totalprice", "o_orderdate")
        .limit(10).withColumn("o_orderkey", col("o_orderkey") + 1000000L),
      genp, WriteOptions(mode = WriteMode.Append))
    val gt = GraftTable(spark, genp).toDf()
    val nRows = gt.count()
    val nRids = gt.select("rid").distinct().count()
    val badGen =
      try {
        GraftWriter.write(spark,
          orders.select("o_orderkey", "o_totalprice", "o_orderdate")
            .limit(1).withColumn("o_year", lit(1900L)),
          genp, WriteOptions(mode = WriteMode.Append))
        false
      } catch { case _: IllegalArgumentException => true }
    println(s"[34] generated+identity: rows=$nRows unique rids=$nRids " +
      s"(equal=${nRows == nRids}); wrong supplied o_year rejected=$badGen")

    // 35. bloom-filter point lookups: graft.bloom.cols writes parquet
    // footer bloom filters; the file index consults them for =/IN on a
    // high-cardinality key that min/max stats cannot prune
    val bloomP = s"$out/orders_bloom"
    GraftWriter.write(spark,
      orders.select("o_orderkey", "o_totalprice").repartition(8, col("o_orderkey")),
      bloomP, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.BloomFilters.PropKey -> "o_orderkey")))
    val probeKey = orders.select("o_orderkey").orderBy("o_orderkey")
      .limit(100).collect().last.getLong(0)
    val bt = GraftTable(spark, bloomP)
    val bloomIdx = new graft.sources.GraftFileIndex(spark, bloomP, bt.snapshot())
    val bloomScanned = bloomIdx.listFiles(Nil, Seq(
      org.apache.spark.sql.catalyst.expressions.EqualTo(
        org.apache.spark.sql.catalyst.expressions.AttributeReference("o_orderkey",
          org.apache.spark.sql.types.LongType)(),
        org.apache.spark.sql.catalyst.expressions.Literal(probeKey))))
      .map(_.files.length).sum
    val bloomHit = spark.read.format("graft").load(bloomP)
      .filter(col("o_orderkey") === probeKey).count()
    println(s"[35] bloom point lookup: scanned $bloomScanned/" +
      s"${bt.snapshot().files.size} files for key $probeKey, rows=$bloomHit")

    // 36. IVF-PQ with residual encoding + trigram language ID — the
    // billion-vector ANN layout and a real lang-id model, both
    // deterministic and oracle-checked
    val ivfpq = graft.ext.Similarity.ivfpqTopK(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), col("vec_id") < 4, 3)
    val docsDf = spark.read.parquet(s"$sfDir/documents.parquet")
    val langs = graft.ext.TextAnalysis.langId(docsDf)
      .groupBy("pred_lang").count().orderBy(col("count").desc)
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    val goodShare = graft.ext.TextAnalysis.qualityClassify(docsDf)
      .agg(sum("pred_good"), count(lit(1))).head()
    println(s"[36] ivf-pq top-3: ${ivfpq.count()} neighbor rows; " +
      s"lang-id votes: $langs; quality classifier keeps " +
      s"${goodShare.getLong(0)}/${goodShare.getLong(1)} docs")

    // 37. symlink manifests: external engines (Presto/Trino/Athena)
    // read the live snapshot through SymlinkTextInputFormat manifests
    val manifests = spark
      .sql(s"GENERATE symlink_format_manifest FOR TABLE graft.`$table`")
      .collect().map(_.getString(0))
    val manifestUris = manifests.flatMap { rel =>
      val src = scala.io.Source.fromFile(s"$table/$rel", "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val externalRows = spark.read
      .parquet(manifestUris.map(_.stripPrefix("file:")): _*).count()
    println(s"[37] symlink manifests: ${manifests.length} partitions, " +
      s"$externalRows rows readable as plain parquet " +
      s"(= ${GraftTable(spark, table).toDf().count()} in the table)")

    // 38. metadata-only type widening: gen-1 int files + gen-2 long
    // rows read uniformly as BIGINT, no rewrite, protocol-gated
    val widen = s"$out/widen"
    GraftWriter.write(spark,
      spark.range(3).select(col("id"), col("id").cast("int").as("qty")),
      widen, WriteOptions(mode = WriteMode.Overwrite))
    val wGen1 = GraftTable(spark, widen).snapshot().files.map(_.path).toSet
    spark.sql(s"ALTER TABLE graft.`$widen` ALTER COLUMN qty TYPE bigint")
    GraftWriter.write(spark,
      spark.range(3, 4).select(col("id"),
        (col("id") + 9000000000L).as("qty")),
      widen, WriteOptions(mode = WriteMode.Append))
    val wMax = spark.sql(s"SELECT max(qty) FROM graft.`$widen`").head().getLong(0)
    val wNow = GraftTable(spark, widen).snapshot().files.map(_.path).toSet
    println(s"[38] type widening: ${(wGen1 intersect wNow).size} of " +
      s"${wGen1.size} gen-1 int files untouched " +
      s"(+${(wNow diff wGen1).size} long append), max(qty)=$wMax " +
      "read as BIGINT across generations")

    // 39. COPY INTO: idempotent ingestion — the second run is a no-op
    val copySrc = s"$out/copy_src"
    val copyTbl = s"$out/copy_tbl"
    spark.range(100).select(col("id"), (col("id") * 2).as("v"))
      .write.mode("overwrite").parquet(copySrc)
    GraftWriter.write(spark,
      spark.range(0).select(col("id"), col("id").as("v")), copyTbl,
      WriteOptions(mode = WriteMode.Overwrite))
    val c1 = spark.sql(s"COPY INTO graft.`$copyTbl` FROM '$copySrc'").head()
    val c2 = spark.sql(s"COPY INTO graft.`$copyTbl` FROM '$copySrc'").head()
    println(s"[39] COPY INTO: run1 ingested ${c1.getLong(1)} files; " +
      s"run2 ingested ${c2.getLong(1)}, skipped ${c2.getLong(2)} " +
      s"(version ${if (c2.isNullAt(0)) "unchanged — exact no-op" else "ADVANCED?!"})")

    // 40. two-stage ANN retrieval + real BPE counts
    val embsDf = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rerank = graft.ext.Similarity.ivfpqTopKRerank(
      embsDf, col("vec_id") < 4, 3, shortlistFactor = 4)
    val bpe = graft.ext.TextAnalysis.bpeCount(mediaDocs)
      .agg(sum("n_bpe"), count(lit(1))).head()
    println(s"[40] rerank: ${rerank.count()} exact-reranked neighbor rows; " +
      s"BPE: ${bpe.getLong(0)} tokens over ${bpe.getLong(1)} docs " +
      s"(${graft.ext.BpeModel.merges.length} trained merges)")

    // 41. incremental aggregate maintenance over the change feed
    val mvSrc = s"$out/mv_src"
    val mvSum = s"$out/mv_sum"
    GraftWriter.write(spark,
      spark.range(6).select(col("id"), (col("id") % 2).cast("string").as("k"),
        col("id").as("v")),
      mvSrc, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    graft.ext.MaterializedAgg.refresh(spark, mvSrc, mvSum, Seq("k"), "v")
    graft.merge.Dml.delete(spark, mvSrc, col("id") === 4L)
    GraftWriter.write(spark,
      spark.range(10, 12).select(col("id"),
        (col("id") % 2).cast("string").as("k"), col("id").as("v")),
      mvSrc, WriteOptions(mode = WriteMode.Append))
    graft.ext.MaterializedAgg.refresh(spark, mvSrc, mvSum, Seq("k"), "v")
    val mvRows = GraftTable(spark, mvSum).toDf()
      .orderBy("k").collect()
      .map(r => s"${r.getString(0)}:${r.getLong(1)}/${r.getLong(2)}")
      .mkString(" ")
    println(s"[41] incremental matview: $mvRows (sum/rows per key, " +
      "maintained from change-feed deltas — source never rescanned)")

    // 42. persisted ANN index: build once, search many, refresh on change
    val annSrc = s"$out/ann_src"
    val annIdx = s"$out/ann_idx/ix"
    GraftWriter.write(spark, embsDf, annSrc,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    graft.ext.AnnIndex.build(spark, annSrc, annIdx)
    val annHits = graft.ext.AnnIndex.search(spark, annIdx,
      GraftTable(spark, annSrc).toDf().filter(col("vec_id") < 4), k = 3,
      requireFresh = true)
    val annRerank = graft.ext.AnnIndex.searchRerank(spark, annIdx,
      GraftTable(spark, annSrc).toDf().filter(col("vec_id") < 4), k = 3)
    graft.merge.Dml.delete(spark, annSrc, col("vec_id") === 7L)
    val stBefore = graft.ext.AnnIndex.status(spark, annIdx)
    val refreshed = graft.ext.AnnIndex.refresh(spark, annIdx)
    println(s"[42] ANN index: ${annHits.count()} ADC hits + " +
      s"${annRerank.count()} exact-reranked from the STORED codes " +
      s"(no retraining); delete made it stale=${stBefore.stale}, " +
      s"refresh applied v${refreshed.getOrElse(-1L)} incrementally")

    // 43. CLUSTER BY DDL + incremental maintenance: second OPTIMIZE
    // touches only the newly appended file; FULL restores disjointness
    val clTbl = s"$out/cluster_tbl"
    // demo files are KBs; a 1-byte floor keeps "already clustered and
    // large enough" representable (the default floor is 256 MiB)
    spark.conf.set("spark.graft.optimize.minFileSizeBytes", "1")
    spark.sql(s"CREATE TABLE graft.`$clTbl` (k BIGINT, v STRING) " +
      "USING graft CLUSTER BY (k)")
    (0 until 3).foreach { i =>
      GraftWriter.write(spark,
        spark.range(64).select((col("id") * 3 + i).as("k"),
          col("id").cast("string").as("v")).coalesce(1),
        clTbl, WriteOptions(mode = WriteMode.Append))
    }
    spark.sql(s"OPTIMIZE graft.`$clTbl`")
    val clFirst = GraftTable(spark, clTbl).snapshot().files.map(_.path).toSet
    GraftWriter.write(spark,
      spark.range(200, 232).select(col("id").as("k"),
        col("id").cast("string").as("v")).coalesce(1),
      clTbl, WriteOptions(mode = WriteMode.Append))
    spark.sql(s"OPTIMIZE graft.`$clTbl`")
    val clAfter = GraftTable(spark, clTbl).snapshot().files.map(_.path).toSet
    val clFullV = spark.sql(s"OPTIMIZE graft.`$clTbl` FULL").head().getLong(0)
    spark.conf.unset("spark.graft.optimize.minFileSizeBytes")
    println(s"[43] CLUSTER BY + incremental OPTIMIZE: " +
      s"${(clFirst intersect clAfter).size} of ${clFirst.size} " +
      "already-clustered files untouched by the second pass " +
      s"(only the new append sorted in); OPTIMIZE FULL re-sorts (v$clFullV)")

    // 44. CREATE/REFRESH MATERIALIZED VIEW — the SQL face of step 41
    val mvSql = s"$out/mv_sql"
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mvSql` AS " +
      s"SELECT k, sum(v) FROM graft.`$mvSrc` GROUP BY k")
    GraftWriter.write(spark,
      spark.range(20, 23).select(col("id"),
        (col("id") % 2).cast("string").as("k"), col("id").as("v")),
      mvSrc, WriteOptions(mode = WriteMode.Append))
    val mvV = spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mvSql`").head()
    val mvAgain = spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mvSql`").head()
    println(s"[44] SQL matview: REFRESH caught up to source " +
      s"v${mvV.getLong(0)} from the recorded definition; second REFRESH " +
      s"${if (mvAgain.isNullAt(0)) "no-op (already current)" else "RE-APPLIED?!"}")

    // 45. corpus curation: per-source quantile gate + cluster-balanced
    // selection over the embedding space
    val gated = graft.ext.Sampling.topQuantileByGroup(
      graft.ext.TextAnalysis.qualityScore(mediaDocs, carry = Seq("source")),
      permille = 250, groupCol = "source", scoreCol = "stop_permille",
      idCol = "doc_id", ascending = true)
    val balanced = graft.ext.Similarity.clusterBalancedSelect(
      embsDf, numCells = 16, perCell = 8)
    val cellsKept = balanced.select("cell").distinct().count()
    println(s"[45] curation: quantile gate keeps ${gated.count()} of " +
      s"${mediaDocs.count()} docs (best 25% per source); balanced " +
      s"selection keeps ${balanced.count()} vectors across $cellsKept " +
      "cells (max 8 per cell — dominant clusters shed duplicates first)")

    // 46. REORG APPLY (PURGE): rewrite ONLY the DV'd files — the
    // bounded precursor to DROP FEATURE deletionVectors
    val rgTbl = s"$out/reorg"
    GraftWriter.write(spark,
      spark.range(0, 400).select(col("id").as("k"),
        (col("id") % 4).cast("string").as("p")),
      rgTbl, WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p"),
        metadata = Map("graft.dv" -> "true")))
    graft.merge.Dml.delete(spark, rgTbl, col("k") % 10 === 0)
    val rgDvd = GraftTable(spark, rgTbl).snapshot()
    val rgV = spark.sql(s"REORG TABLE graft.`$rgTbl` APPLY (PURGE)")
      .head().getLong(0)
    val rgAfter = GraftTable(spark, rgTbl).snapshot()
    println(s"[46] REORG PURGE: ${rgDvd.files.count(_.dv.isDefined)} DV'd " +
      s"files rewritten at v$rgV, " +
      s"${rgAfter.files.count(_.dv.isDefined)} DVs remain, " +
      s"${rgAfter.files.map(_.liveRecords).sum} live rows unchanged")

    // 47. idempotent writer transactions: a crashed writer replaying its
    // last batch cannot double-append (Delta's txnAppId/txnVersion)
    val txTbl = s"$out/txn"
    def txBatch(ver: Long) = GraftWriter.write(spark,
      spark.range(ver * 10, ver * 10 + 10).toDF("id"), txTbl,
      WriteOptions(mode = WriteMode.Append,
        txnAppId = Some("quickstart-etl"), txnVersion = Some(ver)))
    txBatch(0); txBatch(1)
    val txReplayV = txBatch(1) // crash-replay of batch 1: no-op
    val txT = GraftTable(spark, txTbl)
    println(s"[47] writer txns: 2 batches = ${txT.toDf().count()} rows; " +
      s"replaying batch 1 no-ops at v$txReplayV " +
      s"(recorded txnVersion ${txT.txnVersion("quickstart-etl").get})")

    // 48. metric kNN + tf-idf keywords over the curation corpus
    val l2Hits = graft.ext.Similarity.bruteTopK(
      embsDf, embsDf.filter(col("vec_id") < 2), 3, metric = "l2")
    val keywords = graft.ext.TextAnalysis.tfidfTopK(mediaDocs, k = 2)
    println(s"[48] metrics: ${l2Hits.count()} L2 neighbor rows; tf-idf " +
      s"keeps ${keywords.count()} keyword rows over ${mediaDocs.count()} docs")

    // 49. row tracking: stable row ids that survive compaction
    val rtTbl = s"$out/rowids"
    GraftWriter.write(spark,
      spark.range(0, 60).select(col("id").as("k")).repartition(4), rtTbl,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.log.CommitLog.RowTrackingKey -> "true")))
    val rtT = GraftTable(spark, rtTbl)
    def rtIds() = rtT.toDfWithRowIds().select("k", "_graft_row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rtBefore = rtIds()
    GraftWriter.optimize(spark, rtTbl)
    val rtStable = rtIds() == rtBefore
    println(s"[49] row tracking: ${rtBefore.size} rows with dense ids; " +
      s"OPTIMIZE rewrote the files and ids ${if (rtStable) "held stable"
      else "MOVED?!"} (materialized __graft_row_id wins over the default)")

    // 50. row ids survive COW DML too (Delta's preservation semantics):
    // an UPDATE rewrites whole files, yet every row keeps its id
    graft.merge.Dml.update(spark, rtTbl, col("k") % 5 === 0,
      Map("k" -> (col("k") + 1000L)))
    val rtAfterDml = rtT.toDfWithRowIds()
      .select("k", "_graft_row_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dmlStable = rtBefore.forall { case (k, id) =>
      rtAfterDml.getOrElse(if (k % 5 == 0) k + 1000L else k, -1L) == id }
    println(s"[50] COW UPDATE rewrote files; ids " +
      s"${if (dmlStable) "held stable" else "MOVED?!"} on updated AND " +
      "carried rows")

    // 51. SQL vector-index lifecycle + drift advisory
    val vIdx = s"$out/vector_index"
    spark.sql(s"CREATE VECTOR INDEX graft.`$vIdx` ON graft.`$annSrc` " +
      "(embedding) OPTIONS ('numCells' = '4', 'm' = '4', 'ksub' = '8')")
      .collect()
    val vHits = graft.ext.AnnIndex.search(spark, vIdx,
      embsDf.filter(col("vec_id") < 2), k = 3)
    val vStatus = graft.ext.AnnIndex.status(spark, vIdx, probeDrift = true)
    println(s"[51] SQL vector index: ${vHits.count()} neighbor rows; " +
      s"drift ratio ${vStatus.driftRatio.map(r => f"$r%.2f").getOrElse("n/a")}, " +
      s"rebuildRecommended=${vStatus.rebuildRecommended}")
    spark.sql(s"DROP VECTOR INDEX graft.`$vIdx`").collect()

    // 52. materialized views with derived avg/count forms
    val mvAvgSrc = s"$out/mv_avg_src"; val mvAvgTgt = s"$out/mv_avg"
    GraftWriter.write(spark,
      spark.range(0, 100).selectExpr("id", "id % 4 AS grp", "id * 3 AS v"),
      mvAvgSrc, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mvAvgTgt` AS " +
      s"SELECT grp, avg(v) AS avg_v, count(*) AS n FROM graft.`$mvAvgSrc` " +
      "GROUP BY grp").collect()
    graft.merge.Dml.delete(spark, mvAvgSrc, col("id") % 10 === 0)
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mvAvgTgt`").collect()
    val mvAvgRows = graft.ext.MaterializedAgg.readView(spark, mvAvgTgt)
      .orderBy("grp").collect()
    println(s"[52] matview avg/count: ${mvAvgRows.length} groups after an " +
      s"incremental delete; grp0 avg=${mvAvgRows.head.getDouble(1)}")

    // 53. persisted dedup fingerprint store: the crawl-increment
    // gatekeeper + decontamination probe (no corpus text rescans)
    val dedupIdx = s"$out/dedup_store"
    graft.ext.DedupIndex.build(spark, dedupIdx,
      mediaDocs.select(col("doc_id"), col("text")))
    val crawl = mediaDocs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("text")).limit(50) // re-crawled copies of known docs
      .unionByName(spark.sql(
        "SELECT 9999999L AS doc_id, 'a genuinely novel crawl document " +
          "about spark physical plans' AS text"))
    val keptCrawl = graft.ext.DedupIndex.ingest(spark, dedupIdx, crawl)
    val contaminated = graft.ext.DedupIndex.probe(spark, dedupIdx,
      mediaDocs.select(col("doc_id"), col("text")).limit(5))
    println(s"[53] dedup store: ${crawl.count()} crawled docs -> " +
      s"${keptCrawl.count()} survivors (re-crawls fingerprint-matched); " +
      s"probe flags ${contaminated.count()}/5 eval docs as contaminated")

    // 54. MIPS retrieval + row commit versions
    val mips = graft.ext.Similarity.ivfIpTopK(
      embsDf, col("vec_id") < 2, k = 3, numCells = 4, m = 4, ksub = 8,
      rowCountHint = Some(embsDf.count()))
    graft.merge.Dml.update(spark, rtTbl, col("k") === 1000L,
      Map("k" -> col("k"))) // no-op value, but the row's VERSION refreshes
    val rv = rtT.toDfWithRowIds()
      .select("k", graft.io.RowTracking.VersionCol)
      .filter(col("k").isin(1000L, 2L)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    println(s"[54] MIPS: ${mips.count()} inner-product neighbors " +
      s"(dot-assigned cells, one shuffle); row versions: updated row " +
      s"k=1000 now v${rv(1000L)}, untouched k=2 still v${rv(2L)}")

    // 55. persisted IP-metric index: MIPS without per-call training —
    // build once (dot cells + raw books), search many, exact-dot rerank
    val ipIdx = s"$out/ip_index"
    spark.sql(s"CREATE VECTOR INDEX graft.`$ipIdx` ON graft.`$annSrc` " +
      "(embedding) OPTIONS ('numCells' = '4', 'm' = '4', 'ksub' = '8', " +
      "'metric' = 'ip')").collect()
    val ipHits = graft.ext.AnnIndex.search(spark, ipIdx,
      embsDf.filter(col("vec_id") < 2), k = 3, requireFresh = true)
    val ipExact = graft.ext.AnnIndex.searchRerank(spark, ipIdx,
      embsDf.filter(col("vec_id") < 2), k = 3, shortlistFactor = 4)
    val ipMeta = spark.sql(s"DESCRIBE VECTOR INDEX graft.`$ipIdx`").head()
    println(s"[55] IP index: ${ipHits.count()} ADC hits + " +
      s"${ipExact.count()} exact-dot reranked (metric=" +
      s"${ipMeta.getString(ipMeta.fieldIndex("metric"))}, quantizers " +
      "trained once, stored in the commit log)")

    // 56. matview MIN/MAX: inserts fold; deleting a group's extremum
    // recomputes only the affected groups from the source
    val mmTgt = s"$out/mv_minmax"
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$mmTgt` AS " +
      s"SELECT grp, min(v) AS min_v, max(v) AS max_v, count(*) AS n " +
      s"FROM graft.`$mvAvgSrc` GROUP BY grp").collect()
    val mmMaxBefore = graft.ext.MaterializedAgg.readView(spark, mmTgt)
      .agg(max("max_v")).head().getLong(0)
    graft.merge.Dml.delete(spark, mvAvgSrc,
      col("v") === lit(mmMaxBefore)) // kill the global maximum
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$mmTgt`").collect()
    val mmMaxAfter = graft.ext.MaterializedAgg.readView(spark, mmTgt)
      .agg(max("max_v")).head().getLong(0)
    println(s"[56] matview min/max: deleting the maximum ($mmMaxBefore) " +
      s"recomputed ONLY its group; new max $mmMaxAfter")

    // 57. discovery + lifecycle closure: SHOW enumerates the engine-
    // managed artifacts under a root, and DROP MATERIALIZED VIEW takes
    // a view's support relations with it
    val shownIx = spark.sql(s"SHOW VECTOR INDEXES IN '$out'").count()
    val shownFp = spark.sql(s"SHOW DEDUP STORES IN '$out'").count()
    val shownMv = spark.sql(s"SHOW MATERIALIZED VIEWS IN '$out'").count()
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$mmTgt`").collect()
    val afterDrop = spark.sql(s"SHOW MATERIALIZED VIEWS IN '$out'").count()
    println(s"[57] SHOW under $out: $shownIx vector index(es), " +
      s"$shownFp dedup store(s), $shownMv matview(s) — an inherited " +
      s"lake is discoverable; DROP MATERIALIZED VIEW leaves $afterDrop")

    // 58. hybrid retrieval: BM25 + vector candidates fused by RRF —
    // rank-based, so the two branches' incomparable scores never mix;
    // the IVF variant swaps in cell-pruned dense candidates unchanged
    val hybrid = graft.ext.Retrieval.hybridRrfTopK(
      mediaDocs, embsDf, Seq("spark", "query", "merge"),
      queryVecId = 7L, k = 5)
    val hybridIvf = graft.ext.Retrieval.hybridRrfTopKIvf(
      mediaDocs, embsDf, Seq("spark", "query", "merge"),
      queryVecId = 7L, k = 5, numCentroids = 8)
    val hTop = hybrid.head()
    println(s"[58] hybrid RRF: top hit doc ${hTop.getLong(0)} " +
      s"(lex rank ${hTop.get(hTop.fieldIndex("r_lex"))}, vec rank " +
      s"${hTop.get(hTop.fieldIndex("r_vec"))}); IVF-pruned variant " +
      s"returns ${hybridIvf.count()} fused hits")

    // 59. transparent aggregate rewrite: a plain GROUP BY over the
    // SOURCE is answered from a fresh materialized view — and a
    // grouping SUBSET rolls the summary up (sum of sums)
    val rwSrc = s"$out/rw_src"; val rwView = s"$out/rw_view"
    GraftWriter.write(spark,
      spark.read.parquet(s"$sfDir/orders.parquet")
        .selectExpr("o_orderkey", "o_orderpriority AS prio",
          "o_orderstatus AS stat",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c"),
      rwSrc, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$rwView` AS " +
      s"SELECT prio, stat, sum(price_c) AS s, count(*) AS n " +
      s"FROM graft.`$rwSrc` GROUP BY prio, stat").collect()
    spark.conf.set(graft.plans.MatviewRewriteRule.ConfKey, rwView)
    val rwDirect = spark.sql(s"SELECT prio, stat, sum(price_c) AS s, " +
      s"count(*) AS n FROM graft.`$rwSrc` GROUP BY prio, stat")
    val rwRollup = spark.sql(s"SELECT stat, sum(price_c) AS s, " +
      s"count(*) AS n FROM graft.`$rwSrc` GROUP BY stat")
    def viewServed(df: org.apache.spark.sql.DataFrame): Boolean = {
      val scanned = df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location match {
                case ix: graft.sources.GraftFileIndex =>
                  Seq(ix.scannedTablePath)
                case p: graft.sources.PinnedSizeFileIndex =>
                  Seq(p.underlying.scannedTablePath)
                case _ => Nil
              }
            case _ => Nil
          }
      }.flatten
      scanned.contains(rwView) && !scanned.contains(rwSrc)
    }
    println(s"[59] transparent rewrite: GROUP BY (prio, stat) answered " +
      s"from the view = ${viewServed(rwDirect)} (${rwDirect.count()} " +
      s"rows); GROUP BY stat ROLLED UP from it = " +
      s"${viewServed(rwRollup)} (${rwRollup.count()} rows) — the " +
      "source is never rescanned")
    spark.conf.unset(graft.plans.MatviewRewriteRule.ConfKey)
    spark.stop()
  }
}
