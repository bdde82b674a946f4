package graft

import org.apache.spark.sql.functions._

import graft.io.{Cdc, GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.merge._

/** Change-data feed with preimage tracking (`graft.cdf=true`). */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, cdf: Boolean): String = {
    import spark.implicits._
    val p = tmpDir(prefix)
    val df = Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
      .toDF("id", "cat", "v")
    val meta = if (cdf) Map(Cdc.PropKey -> "true") else Map.empty[String, String]
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, metadata = meta))
    p
  }

  private def changes(p: String, from: Long): Map[String, Seq[(Long, Double)]] = {
    val tb = GraftTable(spark, p)
    tb.tableChanges(from, tb.version())
      .select("id", "v", Cdc.ChangeCol).collect()
      .map(r => (r.getString(2), (r.getLong(0), r.getDouble(1))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq.sortBy(_._1) }
  }

  test("UPDATE emits update_preimage/update_postimage pairs") {
    val p = freshTable("cdcu", cdf = true)
    Dml.update(spark, p, col("cat") === "a", Map("v" -> (col("v") * 2)))
    val ch = changes(p, 0L)
    assert(ch("update_preimage") == Seq((1L, 10.0), (3L, 30.0)))
    assert(ch("update_postimage") == Seq((1L, 20.0), (3L, 60.0)))
    assert(!ch.contains("insert") && !ch.contains("delete"))
  }

  test("DELETE emits delete rows with old values") {
    val p = freshTable("cdcd", cdf = true)
    Dml.delete(spark, p, col("v") > 25.0)
    val ch = changes(p, 0L)
    assert(ch("delete") == Seq((3L, 30.0), (4L, 40.0)))
    assert(ch.size == 1)
  }

  test("merge clauses emit update pre/post, delete, and insert types") {
    import spark.implicits._
    val p = freshTable("cdcm", cdf = true)
    val src = Seq((1L, "a", 100.0), (2L, "b", -1.0), (9L, "z", 90.0))
      .toDF("id", "cat", "v")
    MergeClausesExecutor.merge(spark, src, p, "s.id = t.id",
      matched = Seq(
        Delete(Some(expr("s.v < 0"))),
        UpdateSet(Map("v" -> expr("s.v")))),
      notMatched = Seq(InsertAll()))
    val ch = changes(p, 0L)
    assert(ch("update_preimage") == Seq((1L, 10.0)))
    assert(ch("update_postimage") == Seq((1L, 100.0)))
    assert(ch("delete") == Seq((2L, 20.0)))
    assert(ch("insert") == Seq((9L, 90.0)))
  }

  test("fixed-strategy upsert emits update pre/post and insert types") {
    import spark.implicits._
    val p = freshTable("cdcfu", cdf = true)
    val src = Seq((1L, "a", 100.0), (9L, "z", 90.0)).toDF("id", "cat", "v")
    MergeExecutor.merge(spark, src, p,
      MergeConfig(MergeType.Upsert, "s.id = t.id"))
    val ch = changes(p, 0L)
    assert(ch("update_preimage") == Seq((1L, 10.0)))
    assert(ch("update_postimage") == Seq((1L, 100.0)))
    assert(ch("insert") == Seq((9L, 90.0)))
    assert(!ch.contains("delete"))
  }

  test("fixed-strategy replace_delete_unmatched emits updates and deletes") {
    import spark.implicits._
    val p = freshTable("cdcfr", cdf = true)
    val src = Seq((1L, "a", 100.0), (2L, "b", 200.0)).toDF("id", "cat", "v")
    MergeExecutor.merge(spark, src, p,
      MergeConfig(MergeType.ReplaceDeleteUnmatched, "s.id = t.id"))
    val ch = changes(p, 0L)
    assert(ch("update_preimage") == Seq((1L, 10.0), (2L, 20.0)))
    assert(ch("update_postimage") == Seq((1L, 100.0), (2L, 200.0)))
    assert(ch("delete") == Seq((3L, 30.0), (4L, 40.0)))
    assert(!ch.contains("insert"))
  }

  test("fixed-strategy deduplicate_insert stays pure-append (synthesized inserts)") {
    import spark.implicits._
    val p = freshTable("cdcfd", cdf = true)
    val src = Seq((1L, "a", 999.0), (9L, "z", 90.0)).toDF("id", "cat", "v")
    MergeExecutor.merge(spark, src, p,
      MergeConfig(MergeType.DeduplicateInsert, "s.id = t.id"))
    val ch = changes(p, 0L)
    // only the genuinely-new row inserts; the matched key is suppressed
    assert(ch("insert") == Seq((9L, 90.0)))
    assert(ch.size == 1)
  }

  test("appends in a CDF range surface as inserts") {
    import spark.implicits._
    val p = freshTable("cdca", cdf = true)
    GraftWriter.write(spark,
      Seq((5L, "d", 50.0)).toDF("id", "cat", "v"), p,
      WriteOptions(mode = WriteMode.Append))
    Dml.delete(spark, p, col("id") === 2L)
    val ch = changes(p, 0L)
    assert(ch("insert") == Seq((5L, 50.0)))
    assert(ch("delete") == Seq((2L, 20.0)))
  }

  test("non-CDF table keeps the delete+insert fallback") {
    val p = freshTable("cdcf", cdf = false)
    Dml.update(spark, p, col("id") === 1L, Map("v" -> lit(11.0)))
    val ch = changes(p, 0L)
    assert(ch("insert") == Seq((1L, 11.0)))
    assert(ch("delete") == Seq((1L, 10.0)))
    assert(!ch.contains("update_preimage"))
  }

  test("range containing an overwrite keeps per-commit granularity") {
    import spark.implicits._
    val p = freshTable("cdco", cdf = true)
    Dml.update(spark, p, col("id") === 1L, Map("v" -> lit(99.0)))
    GraftWriter.write(spark,
      Seq((7L, "x", 70.0)).toDF("id", "cat", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val ch = changes(p, 0L)
    // the update commit keeps its pre/postimages; the overwrite commit
    // contributes its own net diff (all four rows deleted, one inserted)
    assert(ch("update_preimage") == Seq((1L, 10.0)))
    assert(ch("update_postimage") == Seq((1L, 99.0)))
    assert(ch("insert") == Seq((7L, 70.0)))
    assert(ch("delete") == Seq((1L, 99.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
  }

  test("compaction in a CDF range contributes no phantom changes") {
    val p = freshTable("cdcc", cdf = true)
    Dml.delete(spark, p, col("id") === 2L)
    GraftWriter.optimize(spark, p)
    val ch = changes(p, 0L)
    // OPTIMIZE rewrites files but moves no rows: EXCEPT ALL cancels
    assert(ch("delete") == Seq((2L, 20.0)))
    assert(ch.size == 1)
  }

  test("tableChanges range spanning a RENAME COLUMN serves renamed values") {
    val p = freshTable("cdcren", cdf = true)                            // v0
    Dml.update(spark, p, col("id") === 1L, Map("v" -> lit(11.0)))       // v1
    spark.sql(s"ALTER TABLE graft.`$p` RENAME COLUMN v TO amount")      // v2
    Dml.update(spark, p, col("id") === 2L, Map("amount" -> lit(22.0)))  // v3
    val tb = GraftTable(spark, p)
    // pre-rename change files carry the physical name 'v'; the feed must
    // surface their values under the current logical name, not nulls
    val rows = tb.tableChanges(0, tb.version())
      .select("id", "amount", Cdc.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(rows == Set(
      (1L, 10.0, "update_preimage"), (1L, 11.0, "update_postimage"),
      (2L, 20.0, "update_preimage"), (2L, 22.0, "update_postimage")))
    // the non-CDF fallback diff path maps generations the same way
    val p2 = freshTable("cdcren2", cdf = false)
    Dml.update(spark, p2, col("id") === 1L, Map("v" -> lit(11.0)))
    spark.sql(s"ALTER TABLE graft.`$p2` RENAME COLUMN v TO amount")
    val tb2 = GraftTable(spark, p2)
    val diff = tb2.tableChanges(0, tb2.version())
      .select("id", "amount", Cdc.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(diff == Set((1L, 10.0, "delete"), (1L, 11.0, "insert")))
  }

  test("batch readChangeFeed reader serves per-commit changes") {
    val p = freshTable("cdcbatch", cdf = true)                     // v0
    Dml.update(spark, p, col("id") === 1L, Map("v" -> lit(11.0)))  // v1
    Dml.delete(spark, p, col("id") === 4L)                         // v2
    def feed(opts: (String, String)*) = {
      val r = opts.foldLeft(spark.read.format("graft").option("path", p)
        .option("readChangeFeed", "true")) { case (b, (k, v)) => b.option(k, v) }
      r.load().select("id", "v", Cdc.ChangeCol).collect()
        .map(x => (x.getLong(0), x.getDouble(1), x.getString(2))).toSet
    }
    assert(feed("startingVersion" -> "1") == Set(
      (1L, 10.0, "update_preimage"), (1L, 11.0, "update_postimage"),
      (4L, 40.0, "delete")))
    // endingVersion bounds the range (inclusive)
    assert(feed("startingVersion" -> "1", "endingVersion" -> "1") == Set(
      (1L, 10.0, "update_preimage"), (1L, 11.0, "update_postimage")))
    // startingVersion 0 includes the initial load as inserts
    assert(feed("startingVersion" -> "0").count(_._3 == "insert") == 4)
    // startingVersion is required — no implicit full-history scan
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("path", p)
        .option("readChangeFeed", "true").load()
    }
    assert(e.getMessage.contains("startingVersion"), e.getMessage)
  }

  test("cdc files live under _cdc and are invisible to scans and vacuum") {
    val p = freshTable("cdcv", cdf = true)
    Dml.delete(spark, p, col("id") === 1L)
    val tb = GraftTable(spark, p)
    assert(tb.toDf().count() == 3)
    val cdcDir = new java.io.File(p, "_cdc")
    assert(cdcDir.exists && cdcDir.listFiles().nonEmpty)
    tb.vacuum(1)
    tb.vacuumOrphans(0L, nowMs = System.currentTimeMillis() + 1000000)
    // change files survive both vacuums; the feed still reads
    assert(changes(p, 0L)("delete") == Seq((1L, 10.0)))

    // a partitioned table's change files sit in partition directories
    // under _cdc; they stay out of scans and survive both vacuums too
    val pp = partTable("cdcvp")
    Dml.update(spark, pp, col("id") === 4L, Map("v" -> lit(44.0)))
    val tp = GraftTable(spark, pp)
    val rows = tp.toDf().as[(Long, Option[Int], Double)].collect().toSet
    assert(rows == Set((1L, Some(1), 10.0), (2L, Some(1), 20.0), (3L, Some(2), 30.0),
      (4L, None, 44.0), (5L, None, 50.0)))
    tp.vacuum(1)
    tp.vacuumOrphans(0L, nowMs = System.currentTimeMillis() + 1000000)
    assert(tp.toDf().count() == 5)
    assert(partChanges(pp, 1L) == Seq(
      (4L, None, 44.0, Cdc.Postimage), (4L, None, 40.0, Cdc.Preimage)))
  }

  /** Five rows over int partitions 1, 2 and NULL, with CDF on. */
  private def partTable(prefix: String): String = {
    val p = tmpDir(prefix) + "/t"
    GraftWriter.write(spark,
      Seq((1L, Some(1), 10.0), (2L, Some(1), 20.0), (3L, Some(2), 30.0),
        (4L, None, 40.0), (5L, None, 50.0)).toDF("id", "part", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("part"),
        metadata = Map(Cdc.PropKey -> "true")))
    p
  }

  /** The change rows of version `v`, sorted. */
  private def partChanges(p: String, v: Long): Seq[(Long, Option[Int], Double, String)] =
    GraftTable(spark, p).tableChanges(v - 1, v)
      .select("id", "part", "v", Cdc.ChangeCol).as[(Long, Option[Int], Double, String)]
      .collect().toSeq.sortBy(r => (r._1, r._4))

  test("a partitioned table's UPDATE, DELETE and merge return exact change rows with their partition values") {
    val p = partTable("cdcpart")
    val tb = GraftTable(spark, p)
    // v1: an update spanning partitions 1, 2 and NULL
    Dml.update(spark, p, col("id").isin(2L, 3L, 4L), Map("v" -> (col("v") * 2)))
    assert(partChanges(p, 1L) == Seq(
      (2L, Some(1), 40.0, Cdc.Postimage), (2L, Some(1), 20.0, Cdc.Preimage),
      (3L, Some(2), 60.0, Cdc.Postimage), (3L, Some(2), 30.0, Cdc.Preimage),
      (4L, None, 80.0, Cdc.Postimage), (4L, None, 40.0, Cdc.Preimage)))
    // the change files carry their change type and partition value in
    // the log, and no data file does
    val c1 = tb.log.readCommit(1L)
    assert(c1.cdc.map(f => (f.partitionValues(Cdc.ChangeCol),
      f.partitionValues("part"))).toSet == Set(Cdc.Preimage, Cdc.Postimage)
      .flatMap(k => Set("1", "2", "__HIVE_DEFAULT_PARTITION__").map(v => (k, v))))
    assert(c1.cdc.forall(_.path.startsWith(Cdc.Dir + "/")))
    assert(c1.add.forall(f => !f.partitionValues.contains(Cdc.ChangeCol) &&
      !f.path.contains(Cdc.ChangeCol)))
    // v2: a delete in partitions 1 and NULL
    Dml.delete(spark, p, col("id").isin(1L, 5L))
    assert(partChanges(p, 2L) == Seq(
      (1L, Some(1), 10.0, Cdc.Delete), (5L, None, 50.0, Cdc.Delete)))
    // v3: a merge spanning partitions 2 and NULL, with an insert
    MergeExecutor.merge(spark,
      Seq((3L, Some(2), 300.0), (4L, None, 400.0), (9L, Some(1), 90.0)).toDF("id", "part", "v"),
      p, MergeConfig(MergeType.Upsert, "s.id = t.id"))
    assert(partChanges(p, 3L) == Seq(
      (3L, Some(2), 300.0, Cdc.Postimage), (3L, Some(2), 60.0, Cdc.Preimage),
      (4L, None, 400.0, Cdc.Postimage), (4L, None, 80.0, Cdc.Preimage),
      (9L, Some(1), 90.0, Cdc.Insert)))
    assert(tb.toDf().as[(Long, Option[Int], Double)].collect().toSet == Set(
      (2L, Some(1), 40.0), (3L, Some(2), 300.0), (4L, None, 400.0), (9L, Some(1), 90.0)))
    assert(!tb.toDf().columns.contains(Cdc.ChangeCol))
  }

  test("change files of the inline layout (unpartitioned, _change_type in the file) read identically") {
    val p = partTable("cdclegacy")
    Dml.update(spark, p, col("id").isin(3L, 4L), Map("v" -> lit(0.0))) // v1
    val tb = GraftTable(spark, p)
    val fresh = partChanges(p, 1L)
    // v2: the same change rows as one hand-written file holding every
    // column, with no partition values on its cdc action
    val dir = s"${Cdc.Dir}/inline"
    tb.tableChanges(0L, 1L).select("id", "part", "v", Cdc.ChangeCol).coalesce(1)
      .write.parquet(s"$p/$dir")
    val file = new java.io.File(s"$p/$dir").listFiles().filter(_.getName.endsWith(".parquet")).head
    val snap = tb.snapshot()
    tb.log.commit(operation = "UPDATE", mode = "cow", schemaDdl = snap.schema.toDDL,
      partitionColumns = snap.partitionColumns, metadata = Map.empty,
      operationMetrics = Map.empty, add = Nil, remove = Nil,
      cdc = Seq(graft.log.AddFile(s"$dir/${file.getName}", Map.empty, file.length,
        fresh.size.toLong, file.lastModified)))
    assert(partChanges(p, 2L) == fresh)
    // a range spanning both layouts reads both
    assert(tb.tableChanges(0L, 2L).count() == 2L * fresh.size)
  }

  test("a row-tracked table's change rows hold no plumbing columns and its row ids survive") {
    val p = tmpDir("cdcrt") + "/t"
    GraftWriter.write(spark, Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite, metadata = Map(Cdc.PropKey -> "true",
        graft.log.CommitLog.RowTrackingKey -> "true")))
    val tb = GraftTable(spark, p)
    def ids: Map[Long, Long] = tb.toDfWithRowIds().select("k", graft.io.RowTracking.Col)
      .as[(Long, Long)].collect().toMap
    val ids0 = ids
    Dml.update(spark, p, col("k") === 2L, Map("v" -> lit(22.0)))
    MergeExecutor.merge(spark, Seq((3L, 33.0), (4L, 40.0)).toDF("k", "v"), p,
      MergeConfig(MergeType.Upsert, "s.k = t.k"))
    val ch = tb.tableChanges(0L, tb.version())
    assert(ch.columns.toSeq ==
      Seq("k", "v", Cdc.ChangeCol, Cdc.VersionCol, Cdc.TimestampCol))
    assert(ch.filter(col(Cdc.VersionCol) > 0L).select("k", "v", Cdc.ChangeCol)
      .as[(Long, Double, String)].collect().toSet == Set(
      (2L, 20.0, Cdc.Preimage), (2L, 22.0, Cdc.Postimage),
      (3L, 30.0, Cdc.Preimage), (3L, 33.0, Cdc.Postimage), (4L, 40.0, Cdc.Insert)))
    val ids1 = ids
    assert(ids1 - 4L == ids0)
    assert(!ids0.values.toSet.contains(ids1(4L)))
  }

  test("a CDF merge, update, delete and DV update run as many executions as without CDF") {
    import org.apache.spark.sql.graft.ExecutionRecorder
    def table(cdf: Boolean, dv: Boolean): String = {
      val p = tmpDir("cdcpin") + "/t"
      GraftWriter.write(spark, (0L until 40L).map(k => (k, k * 10.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")), p, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(Cdc.PropKey -> cdf, graft.io.DeletionVectors.PropKey -> dv)
          .collect { case (k, true) => k -> "true" }))
      p
    }
    val ops: Seq[(String, Boolean, Int, String => Any)] = Seq(
      ("upsert merge", false, 3, p => MergeExecutor.merge(spark,
        Seq((5L, 1.0), (6L, 2.0), (100L, 3.0)).toDF("k", "v"), p,
        MergeConfig(MergeType.Upsert, "s.k = t.k"))),
      ("update", false, 2, p => Dml.update(spark, p, col("k") === 5L, Map("v" -> lit(0.0)))),
      ("delete", false, 2, p => Dml.delete(spark, p, col("k") === 5L)),
      ("DV update", true, 2, p => Dml.update(spark, p, col("k") === 5L, Map("v" -> lit(0.0)))))
    for ((name, dv, n, op) <- ops) {
      def run(cdf: Boolean) = {
        val p = table(cdf, dv)
        (p, ExecutionRecorder.record(spark)(op(p))._2)
      }
      val (_, plain) = run(cdf = false)
      val (p, withCdf) = run(cdf = true)
      def names(runs: Seq[org.apache.spark.sql.execution.QueryExecution]) =
        runs.map(_.logical.nodeName).mkString(", ")
      assert(plain.size == n, s"$name without CDF: ${names(plain)}")
      assert(withCdf.size == n, s"$name with CDF: ${names(withCdf)}")
      assert(withCdf.map(ExecutionRecorder.filesScanned).sum <=
        plain.map(ExecutionRecorder.filesScanned).sum, name)
      val tb = GraftTable(spark, p)
      assert(tb.log.readCommit(tb.version()).cdc.nonEmpty, name)
    }
  }

  test("change rows carry _commit_version and _commit_timestamp provenance") {
    import graft.io.Cdc
    import spark.implicits._
    val p = tmpDir("cdcprov") + "/t"
    GraftWriter.write(spark, Seq((1L, 10.0)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(Cdc.PropKey -> "true")))
    GraftWriter.write(spark, Seq((2L, 20.0)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append)) // v1
    Dml.update(spark, p, col("k") === 1L, Map("v" -> lit(11.0))) // v2
    val tb = GraftTable(spark, p)
    val rows = tb.tableChanges(0L, 2L)
      .select("k", Cdc.ChangeCol, Cdc.VersionCol, Cdc.TimestampCol)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getTimestamp(3).getTime))
    // per-commit provenance: the append is v1, the update's pair is v2
    assert(rows.collect { case (2L, "insert", ver, _) => ver }.toSeq == Seq(1L))
    assert(rows.collect { case (1L, ct, ver, _) => (ct, ver) }.toSet ==
      Set(("update_preimage", 2L), ("update_postimage", 2L)))
    // timestamps match the commits' wall clocks
    val byVer = tb.history().map(c => c.version -> c.timestampMs).toMap
    assert(rows.forall { case (_, _, ver, ts) => byVer(ver) == ts })
    // the streaming CDF schema exposes the same provenance columns
    val st = org.apache.spark.sql.graft.GraftStreamSource.cdfSchema(
      tb.snapshot().schema)
    assert(st.fieldNames.takeRight(3).sameElements(
      Array(Cdc.ChangeCol, Cdc.VersionCol, Cdc.TimestampCol)))
  }
}
