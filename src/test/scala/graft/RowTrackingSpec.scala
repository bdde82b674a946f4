package graft

import org.apache.spark.sql.functions._

import graft.io._
import graft.log.CommitLog

/** Row tracking (`graft.rowTracking`): dense unique id assignment,
  * stability across OPTIMIZE / cluster / REORG PURGE via materialized
  * ids, late enablement (NULL for pre-feature files), and the writer
  * feature gate.
  */
class RowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def idsByKey(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("k", RowTracking.Col).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("ids are dense and unique; OPTIMIZE materializes and preserves them") {
    val p = tmpDir("rt_basic")
    GraftWriter.write(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v").repartition(4), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    // the property carries: a plain append keeps assigning
    GraftWriter.write(spark,
      (100L until 150L).map(i => (i, s"v$i")).toDF("k", "v").repartition(2), p,
      WriteOptions(mode = WriteMode.Append))
    val t = GraftTable(spark, p)
    val snap1 = t.snapshot()
    assert(snap1.files.forall(_.baseRowId.isDefined))
    val ids1 = idsByKey(t.toDfWithRowIds())
    assert(ids1.size == 150)
    assert(ids1.values.toSet == (0L until 150L).toSet, "dense unique ids")

    // compaction rewrites every small file; ids must not move
    val v = GraftWriter.optimize(spark, p)
    assert(v == snap1.version + 1)
    val snap2 = t.snapshot()
    assert(snap2.files.map(_.path).toSet != snap1.files.map(_.path).toSet)
    assert(idsByKey(t.toDfWithRowIds()) == ids1,
      "OPTIMIZE changed row ids")
    // and BOTH writer features are registered — an ids-only build
    // passing the rowTracking gate alone would still corrupt row
    // versions on its first rewrite
    val feats = graft.log.Protocol.parse(t.log.tableProperties(),
      graft.log.Protocol.WriterFeaturesKey)
    assert(feats.contains(graft.log.Protocol.RowTracking))
    assert(feats.contains(graft.log.Protocol.RowVersions))

    // fresh rows keep allocating ABOVE everything ever assigned
    GraftWriter.write(spark,
      Seq((150L, "v150")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))
    val ids3 = idsByKey(t.toDfWithRowIds())
    assert(ids3(150L) > ids1.values.max)
    assert((ids3 - 150L) == ids1)
  }

  test("rowTracking + dv: DV delete and REORG PURGE keep survivor ids") {
    val p = tmpDir("rt_reorg")
    GraftWriter.write(spark,
      (0L until 200L).map(i => (i, i % 4)).toDF("k", "p").repartition(2), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p"),
        metadata = Map(CommitLog.RowTrackingKey -> "true",
          DeletionVectors.PropKey -> "true")))
    val t = GraftTable(spark, p)
    val before = idsByKey(t.toDfWithRowIds())
    // DV delete never rewrites survivors: ids trivially stable
    graft.merge.Dml.delete(spark, p, col("k") % 10 === 0)
    val afterDelete = idsByKey(t.toDfWithRowIds())
    assert(afterDelete == before.filter { case (k, _) => k % 10 != 0 })
    // purge rewrites exactly the DV'd files; survivor ids ride along
    GraftWriter.reorgPurge(spark, p)
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    assert(idsByKey(t.toDfWithRowIds()) == afterDelete,
      "REORG changed row ids")
  }

  test("cluster/Z-order maintenance preserves ids") {
    val p = tmpDir("rt_cluster")
    GraftWriter.write(spark,
      (0L until 300L).map(i => (i, (i * 37) % 100, i % 7)).toDF("k", "a", "b")
        .repartition(3), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    val t = GraftTable(spark, p)
    val before = idsByKey(t.toDfWithRowIds())
    GraftWriter.optimizeCluster(spark, p, Seq("a"))
    assert(idsByKey(t.toDfWithRowIds()) == before, "range cluster moved ids")
    GraftWriter.optimizeZOrder(spark, p, Seq("a", "b"))
    assert(idsByKey(t.toDfWithRowIds()) == before, "Z-order moved ids")
  }

  test("late enablement: pre-feature files read NULL ids, new files get ids") {
    val p = tmpDir("rt_late")
    GraftWriter.write(spark,
      (0L until 10L).map(i => (i, "old")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val t = GraftTable(spark, p)
    intercept[IllegalArgumentException] { t.toDfWithRowIds() }
    GraftWriter.write(spark,
      (10L until 20L).map(i => (i, "new")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    val rows = t.toDfWithRowIds().select("k", RowTracking.Col).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert((0L until 10L).forall(rows(_).isEmpty), "pre-feature rows read NULL")
    assert((10L until 20L).map(rows(_).get).toSet == (0L until 10L).toSet)
  }

  test("baseRowId and the hwm survive checkpoint replay") {
    val p = tmpDir("rt_ckpt")
    GraftWriter.write(spark, Seq((0L, "x")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    (1L until 13L).foreach { i =>
      GraftWriter.write(spark, Seq((i, "x")).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    // a COLD log (fresh CommitLog) replays through the checkpoint
    // written at v10; adds and the carried hwm must round-trip
    val cold = new CommitLog(p, spark.sessionState.newHadoopConf())
    val snap = cold.snapshot()
    assert(snap.files.forall(_.baseRowId.isDefined))
    assert(idsByKey(GraftTable(spark, p).toDfWithRowIds()).values.toSet ==
      (0L until 13L).toSet)
    assert(cold.tableProperties().get(CommitLog.RowIdHwmKey).map(_.toLong)
      .exists(_ >= 12L))
  }

  test("reader option withRowIds serves ids; refused without the property") {
    val p = tmpDir("rt_reader")
    GraftWriter.write(spark,
      (0L until 30L).map(i => (i, s"v$i")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    val df = spark.read.format("graft").option("withRowIds", "true").load(p)
    assert(df.columns.contains(RowTracking.Col))
    val ids = df.select("k", RowTracking.Col).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids.values.toSet == (0L until 30L).toSet)
    // equals the programmatic read
    assert(ids == idsByKey(GraftTable(spark, p).toDfWithRowIds()))
    // plain reads stay untouched — no surprise extra column
    assert(!spark.read.format("graft").load(p).columns
      .contains(RowTracking.Col))

    val plain = tmpDir("rt_reader_plain")
    GraftWriter.write(spark, Seq((1L, "x")).toDF("k", "v"), plain,
      WriteOptions(mode = WriteMode.Overwrite))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("withRowIds", "true").load(plain)
        .collect()
    }
    // combining with the change feed is refused, never silently ignored
    intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("readChangeFeed", "true").option("startingVersion", 0)
        .option("withRowIds", "true").load(p)
    }
    intercept[IllegalArgumentException] {
      spark.readStream.format("graft")
        .option("withRowIds", "true").load(p)
    }
  }

  test("reserved column names are refused; SHOW CREATE hides the hwm") {
    val p = tmpDir("rt_reserved")
    intercept[IllegalArgumentException] {
      GraftWriter.write(spark,
        Seq((1L, 2L)).toDF("k", RowTracking.PhysicalCol), p,
        WriteOptions(mode = WriteMode.Overwrite,
          metadata = Map(CommitLog.RowTrackingKey -> "true")))
    }
    GraftWriter.write(spark, Seq((1L, "x")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    val ddl = spark.sql(s"SHOW CREATE TABLE graft.`$p`")
      .collect().head.getString(0)
    assert(ddl.contains(CommitLog.RowTrackingKey), "declaration round-trips")
    assert(!ddl.contains(CommitLog.RowIdHwmKey), "hwm is operational state")
  }

  test("COW DML preserves ids: UPDATE keeps them, DELETE drops only its rows") {
    val p = tmpDir("rt_cow_dml")
    GraftWriter.write(spark,
      (0L until 120L).map(i => (i, s"v$i")).toDF("k", "v").repartition(3), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    val t = GraftTable(spark, p)
    val ids0 = idsByKey(t.toDfWithRowIds())

    // COW UPDATE (no graft.dv): both the updated rows and their
    // carried-over neighbors must keep their ids
    graft.merge.Dml.update(spark, p, col("k") % 5 === 0,
      Map("v" -> concat(col("v"), lit("!"))))
    val ids1 = idsByKey(t.toDfWithRowIds())
    assert(ids1 == ids0, "COW UPDATE changed row ids")
    assert(t.toDf().filter(col("v").endsWith("!")).count() == 24)

    // COW DELETE: survivors keep ids, deleted ids disappear
    graft.merge.Dml.delete(spark, p, col("k") % 3 === 0)
    val ids2 = idsByKey(t.toDfWithRowIds())
    assert(ids2 == ids0.filter { case (k, _) => k % 3 != 0 },
      "COW DELETE moved survivor ids")
  }

  test("COW merge preserves carried/updated ids; inserts draw fresh ones") {
    val p = tmpDir("rt_cow_merge")
    GraftWriter.write(spark,
      (0L until 80L).map(i => (i, i * 10)).toDF("k", "x").repartition(2), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    val t = GraftTable(spark, p)
    val ids0 = idsByKey(t.toDfWithRowIds())

    // strategy upsert: 10 updates + 5 inserts
    val src = ((70L until 85L).map(i => (i, i * 100))).toDF("k", "x")
    graft.merge.MergeExecutor.merge(spark, src, p,
      graft.merge.MergeConfig(graft.merge.MergeType.Upsert, "s.k = t.k"))
    val ids1 = idsByKey(t.toDfWithRowIds())
    assert(ids1.filter(_._1 < 80L) == ids0, "upsert moved existing ids")
    assert((80L until 85L).forall(k => ids1(k) > ids0.values.max),
      "merge inserts must draw fresh ids above the hwm")

    // clause merge: conditional UPDATE + DELETE + INSERT
    val src2 = Seq((1L, 1L), (2L, 2L), (100L, 5L)).toDF("k", "x")
    graft.merge.MergeClausesExecutor.merge(spark, src2, p,
      predicate = "s.k = t.k",
      matched = Seq(
        graft.merge.Delete(Some(expr("s.k = 2"))),
        graft.merge.UpdateSet(Map("x" -> expr("t.x + 1")), None)),
      notMatched = Seq(graft.merge.InsertAll(None)))
    val ids2 = idsByKey(t.toDfWithRowIds())
    assert(!ids2.contains(2L), "deleted row still present")
    assert(ids2.filter(k => k._1 != 2L && k._1 != 100L) == ids1 - 2L,
      "clause merge moved carried/updated ids")
    assert(ids2(100L) > ids1.values.max, "clause insert id not fresh")
    // the updated row really was updated in place, same id
    assert(t.toDf().filter(col("k") === 1L).head().getLong(1) == 11L)
  }

  test("replace_delete_unmatched keeps the target ids of the rows it replaces") {
    // RDU is UPDATE ALL + BY SOURCE DELETE: a replaced row is a matched
    // UPDATE, so it keeps its id (COW and DV alike); unmatched rows go
    for (dv <- Seq(false, true)) {
      val p = tmpDir(s"rt_rdu_$dv")
      GraftWriter.write(spark,
        (0L until 30L).map(i => (i, i)).toDF("k", "x").repartition(2), p,
        WriteOptions(mode = WriteMode.Overwrite,
          metadata = Map(CommitLog.RowTrackingKey -> "true") ++
            (if (dv) Map(DeletionVectors.PropKey -> "true") else Map.empty)))
      val t = GraftTable(spark, p)
      val ids0 = idsByKey(t.toDfWithRowIds())
      graft.merge.MergeExecutor.merge(spark,
        (10L until 20L).map(i => (i, i * 100)).toDF("k", "x"), p,
        graft.merge.MergeConfig(
          graft.merge.MergeType.ReplaceDeleteUnmatched, "s.k = t.k"))
      assert(idsByKey(t.toDfWithRowIds()) ==
        ids0.filter { case (k, _) => k >= 10L && k < 20L }, s"dv=$dv")
      assert(t.toDf().filter(col("x") === col("k") * 100).count() == 10)
    }
  }

  test("DV-mode UPDATE and merge preserve ids on their appended postimages") {
    val p = tmpDir("rt_dv_update")
    GraftWriter.write(spark,
      (0L until 90L).map(i => (i, i * 2)).toDF("k", "x").repartition(3), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true",
          DeletionVectors.PropKey -> "true")))
    val t = GraftTable(spark, p)
    val ids0 = idsByKey(t.toDfWithRowIds())

    // DV UPDATE: preimage leaves via bitmap, postimage appends — the
    // postimage must carry the row's id materialized
    graft.merge.Dml.update(spark, p, col("k") % 4 === 0,
      Map("x" -> (col("x") + 1L)))
    assert(idsByKey(t.toDfWithRowIds()) == ids0, "DV UPDATE moved ids")

    // DV upsert merge: 6 updates keep ids, 3 inserts draw fresh
    val src = ((84L until 93L).map(i => (i, i * 100))).toDF("k", "x")
    graft.merge.MergeExecutor.merge(spark, src, p,
      graft.merge.MergeConfig(graft.merge.MergeType.Upsert, "s.k = t.k"))
    val ids1 = idsByKey(t.toDfWithRowIds())
    assert(ids1.filter(_._1 < 90L) == ids0, "DV upsert moved existing ids")
    assert((90L until 93L).forall(k => ids1(k) > ids0.values.max))

    // DV clause merge: UPDATE SET keeps ids
    graft.merge.MergeClausesExecutor.merge(spark,
      Seq((5L, 7L)).toDF("k", "x"), p,
      predicate = "s.k = t.k",
      matched = Seq(graft.merge.UpdateSet(Map("x" -> expr("s.x")), None)))
    val ids2 = idsByKey(t.toDfWithRowIds())
    assert(ids2 == ids1, "DV clause merge moved ids")
    assert(t.toDf().filter(col("k") === 5L).head().getLong(1) == 7L)
  }

  test("row versions: appends stamp, DML refreshes matches, maintenance preserves") {
    val p = tmpDir("rt_versions")
    def versByKey(t: GraftTable): Map[Long, Option[Long]] =
      t.toDfWithRowIds().select("k", RowTracking.VersionCol).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    GraftWriter.write(spark,
      (0L until 40L).map(i => (i, i)).toDF("k", "x").repartition(2), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))     // v0
    GraftWriter.write(spark,
      (40L until 60L).map(i => (i, i)).toDF("k", "x"), p,
      WriteOptions(mode = WriteMode.Append))                     // v1
    val t = GraftTable(spark, p)
    assert(versByKey(t) == (0L until 60L)
      .map(k => k -> Some(if (k < 40) 0L else 1L)).toMap)

    GraftWriter.optimize(spark, p)                               // v2
    assert(versByKey(t).forall { case (k, v) =>
      v.contains(if (k < 40) 0L else 1L) }, "compaction changed versions")

    graft.merge.Dml.update(spark, p, col("k") % 5 === 0,
      Map("x" -> (col("x") + 100L)))                             // v3
    val afterUpd = versByKey(t)
    assert((0L until 60L).forall { k =>
      afterUpd(k).contains(
        if (k % 5 == 0) 3L else if (k < 40) 0L else 1L) },
      s"UPDATE must stamp only its matches: $afterUpd")

    // merge: updated rows take the merge version, inserts too, carried
    // rows keep theirs
    graft.merge.MergeExecutor.merge(spark,
      Seq((1L, 7L), (100L, 8L)).toDF("k", "x"), p,
      graft.merge.MergeConfig(graft.merge.MergeType.Upsert, "s.k = t.k"))
    val v4 = t.version()
    val afterMerge = versByKey(t)
    assert(afterMerge(1L).contains(v4) && afterMerge(100L).contains(v4))
    assert(afterMerge(2L) == afterUpd(2L), "carried row version moved")

    // ids still intact through all of it
    assert(idsByKey(t.toDfWithRowIds()).size == 61)
  }

  test("DV tables: version refreshes ride postimages; survivors untouched") {
    val p = tmpDir("rt_versions_dv")
    GraftWriter.write(spark,
      (0L until 30L).map(i => (i, i)).toDF("k", "x"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true",
          DeletionVectors.PropKey -> "true")))                   // v0
    val t = GraftTable(spark, p)
    def vers(): Map[Long, Long] =
      t.toDfWithRowIds().select("k", RowTracking.VersionCol)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.merge.Dml.update(spark, p, col("k") === 3L,
      Map("x" -> lit(99L)))                                      // v1
    val v1 = vers()
    assert(v1(3L) == 1L, "DV update postimage must take the new version")
    assert(v1(2L) == 0L, "DV survivors must keep their version")

    // DV strategy merge: updated rows + inserts take the merge commit's
    // version; untouched rows keep theirs
    graft.merge.MergeExecutor.merge(spark,
      Seq((5L, 50L), (100L, 1L)).toDF("k", "x"), p,
      graft.merge.MergeConfig(graft.merge.MergeType.Upsert, "s.k = t.k"))
    val vAfterUpsert = t.version()
    val v2 = vers()
    assert(v2(5L) == vAfterUpsert && v2(100L) == vAfterUpsert,
      s"DV upsert must stamp its postimages/inserts: $v2")
    assert(v2(2L) == 0L && v2(3L) == 1L, "DV upsert moved untouched versions")

    // DV clause merge: UPDATE SET refreshes exactly its match
    graft.merge.MergeClausesExecutor.merge(spark,
      Seq((7L, 70L)).toDF("k", "x"), p,
      predicate = "s.k = t.k",
      matched = Seq(graft.merge.UpdateSet(Map("x" -> expr("s.x")), None)))
    val vAfterClause = t.version()
    val v3 = vers()
    assert(v3(7L) == vAfterClause, s"DV clause update version: $v3")
    assert(v3(5L) == vAfterUpsert && v3(2L) == 0L,
      "DV clause merge moved untouched versions")
    // ids held throughout
    assert(idsByKey(t.toDfWithRowIds()).size == 31)
  }

  test("schema-evolution merges refuse the reserved id column names") {
    val p = tmpDir("rt_evolve_reserved")
    GraftWriter.write(spark, (0L until 10L).map(i => (i, i)).toDF("k", "x"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    // a source column named like the id plumbing must be refused at the
    // merge, not silently hijacked (which would also brick appends)
    val src = Seq((1L, 5L, 99L)).toDF("k", "x", RowTracking.PhysicalCol)
    val e = intercept[IllegalArgumentException] {
      graft.merge.MergeExecutor.merge(spark, src, p,
        graft.merge.MergeConfig(graft.merge.MergeType.Upsert, "s.k = t.k",
          schemaEvolution = true))
    }
    assert(e.getMessage.contains("reserved by row tracking"), e.getMessage)
    // the table is still writable afterwards
    GraftWriter.write(spark, Seq((100L, 1L)).toDF("k", "x"), p,
      WriteOptions(mode = WriteMode.Append))
    assert(GraftTable(spark, p).toDf().count() == 11)
  }

  test("read plan ships no global file map: base ids ride as per-file constants") {
    val p = tmpDir("rt_scale_shape")
    GraftWriter.write(spark,
      (0L until 64L).map(i => (i, i)).toDF("k", "v").repartition(16), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(CommitLog.RowTrackingKey -> "true")))
    val df = GraftTable(spark, p).toDfWithRowIds()
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // the base id is a partition-constant column of the scan, so a task
    // only ever materializes the bases of its own splits — nothing in
    // the plan holds a table-wide path→base map
    assert(scans.forall(_.relation.partitionSchema.fieldNames
      .contains(RowTracking.BaseCol)), "baseRowId not a scan constant")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("RowIdIndex"), "plan embeds a global index object")
    // and the ids are still right across all 16 files
    assert(df.select(RowTracking.Col).collect().map(_.getLong(0)).toSet ==
      (0L until 64L).toSet)
  }
}
