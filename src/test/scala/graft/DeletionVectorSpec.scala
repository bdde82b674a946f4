package graft

import org.apache.spark.sql.functions._

import graft.io._
import graft.merge.Dml

/** Merge-on-read deletion vectors: DV DELETE/UPDATE parity with
  * copy-on-write, read-path composition (time travel, CDF, streaming
  * identity), and maintenance interplay (OPTIMIZE purge, RESTORE,
  * VACUUM liveness).
  */
class DeletionVectorSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def orders = spark.read.parquet(s"$sf/orders.parquet")
    .select("o_orderkey", "o_orderstatus", "o_totalprice")

  private def writeDvTable(p: String, extraProps: Map[String, String] = Map.empty): Unit =
    GraftWriter.write(spark, orders, p,
      WriteOptions(mode = WriteMode.Overwrite,
        partitionBy = Seq("o_orderstatus"),
        metadata = Map(DeletionVectors.PropKey -> "true") ++ extraProps))

  test("DV delete: no data file rewritten, results match COW delete") {
    val pDv = tmpDir("dv_del")
    val pCow = tmpDir("cow_del")
    writeDvTable(pDv)
    GraftWriter.write(spark, orders, pCow,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("o_orderstatus")))

    val cond = col("o_totalprice") > 150000.0
    val before = GraftTable(spark, pDv).snapshot()
    val sDv = Dml.delete(spark, pDv, cond)
    val sCow = Dml.delete(spark, pCow, cond)
    assert(sDv.numAffectedFiles > 0)
    assert(sDv.numAffectedFiles == sCow.numAffectedFiles)

    val after = GraftTable(spark, pDv).snapshot()
    // merge-on-read: every surviving physical file is the SAME file —
    // only DV pointers changed (or fully-deleted files dropped)
    val beforePaths = before.files.map(_.path).toSet
    assert(after.files.forall(f => beforePaths(f.path)))
    assert(after.files.exists(_.dv.isDefined))
    assert(after.files.flatMap(_.dv).forall(_.cardinality > 0))

    val got = GraftTable(spark, pDv).toDf()
    val want = GraftTable(spark, pCow).toDf()
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // data-skipping pushdown still fires through the DV filter
    assert(got.filter(col("o_totalprice") > 150000.0).count() == 0)
  }

  test("second delete on same files merges bitmaps; full-file delete drops the file") {
    val p = tmpDir("dv_merge")
    writeDvTable(p)
    val t = GraftTable(spark, p)
    val total = orders.count()
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    val card1 = t.snapshot().files.flatMap(_.dv).map(_.cardinality).sum
    Dml.delete(spark, p, col("o_totalprice") > 100000.0) // superset condition
    val snap2 = t.snapshot()
    val card2 = snap2.files.flatMap(_.dv).map(_.cardinality).sum
    assert(card2 > card1)
    val expect = orders.filter(!(col("o_totalprice") > 100000.0)).count()
    assert(t.toDf().count() == expect)
    // rows already DV-deleted are not re-counted (bitmap union, not sum)
    assert(card2 + snap2.files.map(_.liveRecords).sum
      == snap2.files.map(_.numRecords).sum)
    assert(snap2.files.map(_.liveRecords).sum == expect)

    // delete everything remaining: files drop outright, no zombie adds
    Dml.delete(spark, p, lit(true))
    val snap3 = t.snapshot()
    assert(snap3.files.isEmpty)
    assert(t.toDf().count() == 0)
    assert(total > expect) // sanity: the conditions were selective
  }

  test("DV update: postimages in new files, preimage positions deleted; matches COW update") {
    val pDv = tmpDir("dv_upd")
    val pCow = tmpDir("cow_upd")
    writeDvTable(pDv)
    GraftWriter.write(spark, orders, pCow,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("o_orderstatus")))
    val set = Map("o_totalprice" -> (col("o_totalprice") * 2))
    // row-subset condition (a partition-column condition would match
    // whole files, which drop outright instead of growing a DV)
    Dml.update(spark, pDv, col("o_orderkey") % 3 === 0, set)
    Dml.update(spark, pCow, col("o_orderkey") % 3 === 0, set)
    val got = GraftTable(spark, pDv).toDf()
    val want = GraftTable(spark, pCow).toDf()
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // the DV table kept its original files (plus new postimage files)
    val snap = GraftTable(spark, pDv).snapshot()
    assert(snap.files.exists(_.dv.isDefined))
  }

  test("DV update, CDF DV delete and DV merge commit as mode dv with the DV counters") {
    import graft.merge._
    // the newest DESCRIBE HISTORY row of `p` must be a dv commit whose
    // counters say `deleted` rows left through deletion vectors
    def dvCommit(p: String, deleted: Long): Unit = {
      val h = spark.sql(s"DESCRIBE HISTORY graft.`$p`").head()
      assert(h.getAs[Long]("version") == GraftTable(spark, p).version())
      assert(h.getAs[String]("mode") == "dv", h)
      val m = h.getMap[String, Long](h.fieldIndex("operation_metrics"))
      assert(m("num_deleted_rows") == deleted, m)
      assert(m("num_affected_files") > 0, m)
      assert(m("num_deletion_vectors") > 0 && m("num_deletion_vectors") <= m("num_affected_files"), m)
    }
    val byThree = col("o_orderkey") % 3 === 0
    val pUpd = tmpDir("dv_hist_upd")
    writeDvTable(pUpd)
    Dml.update(spark, pUpd, byThree, Map("o_totalprice" -> (col("o_totalprice") * 2)))
    dvCommit(pUpd, orders.filter(byThree).count())

    val pDel = tmpDir("dv_hist_cdf_del")
    writeDvTable(pDel, Map(Cdc.PropKey -> "true"))
    Dml.delete(spark, pDel, byThree)
    dvCommit(pDel, orders.filter(byThree).count())

    val pMrg = tmpDir("dv_hist_mrg")
    writeDvTable(pMrg)
    val bySeven = col("o_orderkey") % 7 === 0
    MergeExecutor.merge(spark,
      orders.filter(bySeven).withColumn("o_totalprice", col("o_totalprice") + 1.0), pMrg,
      MergeConfig(MergeType.Upsert, "s.o_orderkey = t.o_orderkey"))
    dvCommit(pMrg, orders.filter(bySeven).count())
  }

  test("time travel reads pre-delete state; CDF surfaces DV deletes") {
    val p = tmpDir("dv_tt")
    writeDvTable(p)
    val t = GraftTable(spark, p)
    val v0 = t.version()
    val full = t.toDf().count()
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    assert(t.toDf(Some(v0)).count() == full)
    assert(t.toDf().count() < full)
    // change feed: the DV commit contributes exactly the deleted rows
    val changes = t.tableChanges(v0, t.version())
    val deleted = changes.filter(col(Cdc.ChangeCol) === "delete")
    assert(changes.count() == deleted.count())
    val wantDeleted = orders.filter(col("o_totalprice") > 150000.0).count()
    assert(deleted.count() == wantDeleted)
  }

  test("CDF-enabled table records exact delete change files under DV") {
    val p = tmpDir("dv_cdf")
    writeDvTable(p, Map(Cdc.PropKey -> "true"))
    val t = GraftTable(spark, p)
    val v0 = t.version()
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    val commit = t.log.readCommit(t.version())
    assert(commit.cdc.nonEmpty) // exact change files, not the diff fallback
    val changes = t.tableChanges(v0, t.version())
    assert(changes.filter(col(Cdc.ChangeCol) === "delete").count()
      == orders.filter(col("o_totalprice") > 150000.0).count())
  }

  test("OPTIMIZE purges deletion vectors; stats/detail report live rows") {
    val p = tmpDir("dv_opt")
    writeDvTable(p)
    val t = GraftTable(spark, p)
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    val live = t.toDf().count()
    assert(t.stats().first().getAs[Long]("num_records") == live)
    assert(t.detail().first().getAs[Long]("num_records") == live)

    GraftWriter.optimize(spark, p)
    val snap = t.snapshot()
    assert(snap.files.forall(_.dv.isEmpty)) // purged
    assert(t.toDf().count() == live)
    assert(snap.files.map(_.numRecords).sum == live) // physically gone
  }

  test("RESTORE across DV versions re-points old DVs; VACUUM keeps live DV files") {
    val p = tmpDir("dv_rst")
    writeDvTable(p)
    val t = GraftTable(spark, p)
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    val v1 = t.version()
    val count1 = t.toDf().count()
    Dml.delete(spark, p, col("o_totalprice") > 100000.0)
    assert(t.toDf().count() < count1)
    t.restore(v1)
    assert(t.toDf().count() == count1)

    // vacuum(retain latest only): v2's superseded DV files become
    // garbage, v1's restored DVs stay live and readable
    val deleted = t.vacuum(1)
    val liveDvs = t.snapshot().files.flatMap(_.dv.map(_.path)).toSet
    assert(deleted.forall(rel => !liveDvs(rel)))
    assert(t.toDf().count() == count1)

    // wall-clock vacuum with zero retention tombstones nothing live either
    val aged = t.vacuumOlderThan(0L, enforceRetention = false)
    assert(aged.forall(rel => !liveDvs(rel)))
    assert(t.toDf().count() == count1)
  }

  test("RESTORE of a DV repoint emits matching remove+add; CDF yields resurrected rows only") {
    val p = tmpDir("dv_rst_cdf")
    writeDvTable(p)
    val t = GraftTable(spark, p)
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    val v1 = t.version()
    Dml.delete(spark, p, col("o_totalprice") > 100000.0)
    val v2 = t.version()
    t.restore(v1)
    val v3 = t.version()

    // every add in the restore commit has a matching same-path remove
    // (DV repoints included) — an add-only repoint would make the
    // streaming source and change feed replay the file's live rows
    val c = t.log.readCommit(v3)
    val removed = c.remove.map(_.path).toSet
    assert(c.add.nonEmpty && c.add.forall(a => removed(a.path)))

    // the change feed across the restore is exactly the rows the restore
    // resurrected (deleted by v2, live again at v3) — as inserts
    val changes = t.tableChanges(v2, v3)
    val resurrected = orders.filter(
      col("o_totalprice") > 100000.0 && !(col("o_totalprice") > 150000.0))
    assert(changes.filter(col("_change_type") =!= "insert").count() == 0)
    assert(changes.count() == resurrected.count())
    assert(changes.select("o_orderkey").exceptAll(
      resurrected.select("o_orderkey")).count() == 0)
  }

  test("DV merge upsert: files reused, postimages appended, matches COW merge") {
    import graft.merge._
    val pDv = tmpDir("dv_mrg_up")
    val pCow = tmpDir("cow_mrg_up")
    writeDvTable(pDv)
    GraftWriter.write(spark, orders, pCow,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("o_orderstatus")))
    val keyType = orders.schema("o_orderkey").dataType
    val bumps = orders.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val news = bumps.limit(5)
      .withColumn("o_orderkey", (col("o_orderkey") + 10000000L).cast(keyType))
    val src = bumps.unionByName(news)
    val cfg = MergeConfig(MergeType.Upsert, "s.o_orderkey = t.o_orderkey")
    val before = GraftTable(spark, pDv).snapshot()
    MergeExecutor.merge(spark, src, pDv, cfg)
    MergeExecutor.merge(spark, src, pCow, cfg)
    val after = GraftTable(spark, pDv).snapshot()
    val beforePaths = before.files.map(_.path).toSet
    // matched preimages became DVs on the ORIGINAL files...
    assert(after.files.exists(f => beforePaths(f.path) && f.dv.isDefined))
    // ...and postimages + inserts appended as new files
    assert(after.files.exists(f => !beforePaths(f.path)))
    val got = GraftTable(spark, pDv).toDf()
    val want = GraftTable(spark, pCow).toDf()
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("DV merge: update_only and replace_delete_unmatched match COW") {
    import graft.merge._
    val keyType = orders.schema("o_orderkey").dataType
    val bumps = orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2.0)
    val news = bumps.limit(3)
      .withColumn("o_orderkey", (col("o_orderkey") + 10000000L).cast(keyType))
    val src = bumps.unionByName(news)
    Seq(MergeType.UpdateOnly, MergeType.ReplaceDeleteUnmatched).foreach { mt =>
      val pDv = tmpDir(s"dv_mrg_${mt.name}")
      val pCow = tmpDir(s"cow_mrg_${mt.name}")
      writeDvTable(pDv)
      GraftWriter.write(spark, orders, pCow,
        WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("o_orderstatus")))
      val cfg = MergeConfig(mt, "s.o_orderkey = t.o_orderkey")
      MergeExecutor.merge(spark, src, pDv, cfg)
      MergeExecutor.merge(spark, src, pCow, cfg)
      val got = GraftTable(spark, pDv).toDf()
      val want = GraftTable(spark, pCow).toDf()
      assert(got.count() == want.count(), s"$mt count")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, s"$mt rows")
    }
  }

  test("DV scoped merges match COW, including NULL-scope rows") {
    import spark.implicits._
    import graft.merge._
    // one file mixes in-scope rows (k <= 3), out-of-scope rows and a row
    // where the scope is NULL (out of scope: never dispatched, kept)
    val t0 = (Seq(1L, 2L, 3L, 5L, 6L).map(k => (Option(k), s"t$k")) :+
      ((Option.empty[Long], "tn"))).toDF("k", "v")
    val s0 = Seq((2L, "s2"), (5L, "s5"), (9L, "s9")).toDF("k", "v")
    def run(mt: MergeType, dv: Boolean): Seq[(Option[Long], String)] = {
      val p = tmpDir(s"dv_scope_${mt.name}_$dv") + "/t"
      GraftWriter.write(spark, t0.coalesce(1), p, WriteOptions(
        mode = WriteMode.Overwrite,
        metadata = if (dv) Map(DeletionVectors.PropKey -> "true") else Map.empty))
      MergeExecutor.merge(spark, s0, p, MergeConfig(mt, "s.k = t.k",
        partitionFilter = Some(col("k") <= 3L)))
      GraftTable(spark, p).toDf().collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
        .toSeq.sortBy(_.toString)
    }
    // upsert: k=2 updated; k=5 lies outside the scope, so its source row
    // finds no in-scope match and inserts next to the untouched t5
    val upsert = Seq((Some(1L), "t1"), (Some(2L), "s2"), (Some(3L), "t3"),
      (Some(5L), "t5"), (Some(5L), "s5"), (Some(6L), "t6"), (Some(9L), "s9"),
      (None, "tn")).sortBy(_.toString)
    // RDU: in scope only k=2 matches; k=1,3 are deleted, the rest kept
    val rdu = Seq((Some(2L), "s2"), (Some(5L), "t5"), (Some(6L), "t6"),
      (None, "tn")).sortBy(_.toString)
    for ((mt, want) <- Seq(MergeType.Upsert -> upsert,
        MergeType.ReplaceDeleteUnmatched -> rdu)) {
      assert(run(mt, dv = false) == want, s"${mt.name} COW")
      assert(run(mt, dv = true) == want, s"${mt.name} DV")
    }
  }

  test("DV clause merge matches COW, including multi-match mixed pairs") {
    import spark.implicits._
    import graft.merge._
    val t0 = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("k", "v")
    // k=1: one pair fires the update, the sibling fires the delete;
    // k=3: one pair fires the update, the sibling fires NOTHING — COW
    // emits both the update and the carried target image; the DV path
    // must reproduce that via its row-level affected window
    val s0 = Seq((1L, 100L), (1L, 5L), (3L, 35L), (3L, 30L), (9L, 90L))
      .toDF("k", "v")
    def run(dv: Boolean): org.apache.spark.sql.DataFrame = {
      val p = tmpDir(s"dv_mc_$dv") + "/t"
      GraftWriter.write(spark, t0, p, WriteOptions(mode = WriteMode.Overwrite,
        metadata =
          if (dv) Map(DeletionVectors.PropKey -> "true") else Map.empty))
      MergeClausesExecutor.merge(spark, s0, p, "s.k = t.k",
        matched = Seq(
          UpdateSet(Map("v" -> col("s.v")), Some(col("s.v") > col("t.v"))),
          Delete(Some(col("s.v") < 10L))),
        notMatched = Seq(InsertAll()),
        notMatchedBySource = Seq(Delete(Some(col("t.v") === 40L))))
      GraftTable(spark, p).toDf()
    }
    val got = run(dv = true)
    val want = run(dv = false)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // sanity: the carried sibling image (3,30) is present next to (3,35)
    assert(got.filter(col("k") === 3L).count() == 2)
  }

  test("clause merge keeps a multi-matched row ONCE when no pair fires (COW == DV)") {
    import spark.implicits._
    import graft.merge._
    val t0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    // k=1 joins two source rows but NEITHER fires the conditional update:
    // the carried target image must appear exactly once (COW used to emit
    // it once per joined pair)
    val s0 = Seq((1L, 100L), (1L, 5L)).toDF("k", "v")
    def run(dv: Boolean, bySourceOnly: Boolean): Set[(Long, Long)] = {
      val p = tmpDir(s"dv_nofire_${dv}_$bySourceOnly") + "/t"
      GraftWriter.write(spark, t0, p, WriteOptions(mode = WriteMode.Overwrite,
        metadata =
          if (dv) Map(DeletionVectors.PropKey -> "true") else Map.empty))
      if (bySourceOnly)
        // matched rows see no clause at all; only unmatched-by-source
        // targets are touched (none fire here either)
        MergeClausesExecutor.merge(spark, s0, p, "s.k = t.k",
          matched = Nil,
          notMatchedBySource = Seq(Delete(Some(col("t.v") > 1000L))))
      else
        MergeClausesExecutor.merge(spark, s0, p, "s.k = t.k",
          matched = Seq(
            UpdateSet(Map("v" -> col("s.v")), Some(col("s.v") > 1000L))))
      GraftTable(spark, p).toDf().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
        .ensuring(_ => GraftTable(spark, p).toDf().count() == 2,
          s"row duplicated (dv=$dv bySourceOnly=$bySourceOnly)")
    }
    val want = Set((1L, 10L), (2L, 20L))
    for (dv <- Seq(false, true); bs <- Seq(false, true))
      assert(run(dv, bs) == want, s"dv=$dv bySourceOnly=$bs")
  }

  test("DV merge: failOnMultipleMatches still enforced") {
    import spark.implicits._
    import graft.merge._
    val p = tmpDir("dv_fmm") + "/t"
    GraftWriter.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(DeletionVectors.PropKey -> "true")))
    val dup = Seq((1L, 11L), (1L, 12L)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      MergeExecutor.merge(spark, dup, p,
        MergeConfig(MergeType.Upsert, "s.k = t.k", failOnMultipleMatches = true))
    }
    assert(e.getMessage.contains("matches multiple"))
  }

  test("DV merge: CDF records exact changes; OPTIMIZE purges; RESTORE rewinds") {
    import graft.merge._
    val p = tmpDir("dv_mrg_cdf")
    writeDvTable(p, Map(Cdc.PropKey -> "true"))
    val t = GraftTable(spark, p)
    val v0 = t.version()
    val countBefore = t.toDf().count()
    val keyType = orders.schema("o_orderkey").dataType
    val bumps = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)
    val news = bumps.limit(2)
      .withColumn("o_orderkey", (col("o_orderkey") + 10000000L).cast(keyType))
    MergeExecutor.merge(spark, bumps.unionByName(news), p,
      MergeConfig(MergeType.Upsert, "s.o_orderkey = t.o_orderkey"))
    val v1 = t.version()
    val commit = t.log.readCommit(v1)
    assert(commit.cdc.nonEmpty) // exact change files under DV merge
    val changes = t.tableChanges(v0, v1)
    // orders.o_orderkey is unique and every bump key is an orders key
    val matchedN = bumps.count()
    assert(changes.filter(col(Cdc.ChangeCol) === "update_preimage").count() == matchedN)
    assert(changes.filter(col(Cdc.ChangeCol) === "update_postimage").count() == matchedN)
    assert(changes.filter(col(Cdc.ChangeCol) === "insert").count() == 2)

    // OPTIMIZE purges the merge's DVs without changing results
    val live = t.toDf().count()
    GraftWriter.optimize(spark, p)
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    assert(t.toDf().count() == live)

    // RESTORE to pre-merge rewinds rows exactly
    t.restore(v0)
    assert(t.toDf().count() == countBefore)
    assert(t.toDf().exceptAll(GraftTable(spark, p).toDf(Some(v0))).isEmpty)
  }

  test("streaming source does not re-emit DV metadata rewrites") {
    val p = tmpDir("dv_stream")
    writeDvTable(p)
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    // the DV commit's add actions are all same-commit remove+add pairs —
    // the source's new-data set for that commit must be empty
    val t = GraftTable(spark, p)
    val c = t.log.readCommit(t.version())
    val rewritten = c.remove.map(_.path).toSet
    assert(c.add.nonEmpty && c.add.forall(a => rewritten(a.path)))
  }

  test("REORG APPLY (PURGE) rewrites only DV'd files; clean table is a no-op") {
    val p = tmpDir("dv_reorg")
    writeDvTable(p)
    val t = GraftTable(spark, p)
    Dml.delete(spark, p, col("o_totalprice") > 150000.0)
    // appended-after-the-delete files carry no DV — REORG must leave
    // them alone by path
    val extra = orders.filter(col("o_totalprice") > 150000.0)
    GraftWriter.write(spark, extra, p,
      WriteOptions(mode = WriteMode.Append, partitionBy = Seq("o_orderstatus")))
    val snap1 = t.snapshot()
    val dvd = snap1.files.filter(_.dv.isDefined).map(_.path).toSet
    val plain = snap1.files.filter(_.dv.isEmpty).map(_.path).toSet
    assert(dvd.nonEmpty && plain.nonEmpty,
      "fixture needs both DV'd and untouched files")

    val v = GraftWriter.reorgPurge(spark, p)
    assert(v == snap1.version + 1)
    assert(t.history().head.operation == "REORG")
    val snap2 = t.snapshot()
    // untouched files survive BY PATH; every DV'd file was rewritten;
    // no DV remains anywhere in the live snapshot
    assert(plain.subsetOf(snap2.files.map(_.path).toSet))
    assert(snap2.files.forall(f => !dvd(f.path)))
    assert(snap2.files.forall(_.dv.isEmpty))
    // rows are exactly the pre-purge live rows
    val want = orders.filter(!(col("o_totalprice") > 150000.0))
      .unionByName(extra)
    val got = t.toDf()
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)

    // idempotent: a second purge has nothing to do — version unchanged
    assert(GraftWriter.reorgPurge(spark, p) == snap2.version)

    // SQL route, WHERE-scoped: DV one partition ('F' and 'O' both have
    // cheap rows), purge only 'F' — the other partition's DV survives
    Dml.delete(spark, p, col("o_totalprice") < 20000.0)
    val dvParts = t.snapshot().files.filter(_.dv.isDefined)
      .map(_.partitionValues("o_orderstatus")).toSet
    assert(dvParts.size > 1, s"fixture needs DVs in >1 partition: $dvParts")
    spark.sql(s"REORG TABLE graft.`$p` WHERE o_orderstatus = 'F' APPLY (PURGE)")
      .collect()
    val snap3 = t.snapshot()
    assert(snap3.files.filter(_.dv.isDefined)
      .forall(_.partitionValues("o_orderstatus") != "F"))
    assert(snap3.files.exists(_.dv.isDefined), "out-of-scope DVs survive")
    // the full SQL purge then clears the rest
    spark.sql(s"REORG TABLE graft.`$p` APPLY (PURGE)").collect()
    assert(t.snapshot().files.forall(_.dv.isEmpty))
    val want2 = want.filter(!(col("o_totalprice") < 20000.0))
    assert(t.toDf().count() == want2.count())
    assert(t.toDf().exceptAll(want2).isEmpty)
  }
}
