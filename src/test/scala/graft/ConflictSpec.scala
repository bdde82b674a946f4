package graft

import org.apache.spark.sql.functions._

import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.log._

/** Optimistic-concurrency conflict detection and rebase
  * ([[graft.log.ConflictCheck]] / [[CommitLog.commitOrRebase]]): commits
  * that logically commute with a derived transaction land WITHOUT
  * re-deriving it; real conflicts surface as the typed exception
  * taxonomy (which the bounded re-derive loops still catch, since every
  * type extends ConcurrentModificationException).
  */
class ConflictSpec extends SparkSpec {
  import spark.implicits._

  private def addFile(
      path: String,
      stats: Map[String, FileColStat] = Map.empty,
      partitionValues: Map[String, String] = Map.empty,
      dv: Option[DvFile] = None): AddFile =
    AddFile(path, partitionValues, 10L, 10L, 0L, stats, dv)

  private def commitOf(
      version: Long,
      add: Seq[AddFile] = Nil,
      remove: Seq[RemoveFile] = Nil,
      schemaDdl: String = "k BIGINT,v BIGINT",
      metadata: Map[String, String] = Map.empty,
      operation: String = "WRITE"): Commit =
    Commit(version, 0L, operation, "append", schemaDdl, Nil, metadata,
      Map.empty, add, remove)

  private val baseSchema = "k BIGINT,v BIGINT"

  private def check(
      profile: TxnProfile,
      winners: Commit*): Unit =
    ConflictCheck.check(profile, baseSchema, Map.empty,
      Map("f1" -> 0L, "f2" -> 5L), winners, "/t")

  test("conflict taxonomy: each race maps to its typed exception") {
    val profile = TxnProfile(
      readPaths = Set("f1"),
      removePaths = Set("f1"),
      mayRead = a => a.stats.get("k").exists(s =>
        s.min.exists(_.toLong <= 50) && s.max.exists(_.toLong >= 10)))

    // commuting append (stats outside the read range): no conflict
    check(profile, commitOf(1,
      add = Seq(addFile("f9", Map("k" -> FileColStat(Some("100"), Some("200"), 0))))))

    // append inside the read range
    intercept[ConcurrentAppendException] {
      check(profile, commitOf(1,
        add = Seq(addFile("f9", Map("k" -> FileColStat(Some("20"), Some("30"), 0))))))
    }
    // remove of a file this txn also removes
    intercept[ConcurrentDeleteDeleteException] {
      check(profile, commitOf(1, remove = Seq(RemoveFile("f1"))))
    }
    // remove of a file this txn read (but does not remove)
    intercept[ConcurrentDeleteReadException] {
      check(profile.copy(readPaths = Set("f1", "f2")),
        commitOf(1, remove = Seq(RemoveFile("f2"))))
    }
    // schema change
    intercept[MetadataChangedException] {
      check(profile, commitOf(1, schemaDdl = "k BIGINT,v BIGINT,w BIGINT"))
    }
    // property change
    intercept[MetadataChangedException] {
      check(profile, commitOf(1, metadata = Map("graft.cdf" -> "true")))
    }
    // protocol feature change wins over the generic property conflict
    intercept[ProtocolChangedException] {
      check(profile, commitOf(1,
        metadata = Map(Protocol.WriterFeaturesKey -> "deletionVectors")))
    }
  }

  test("identity hwm advances are NOT metadata conflicts (rebase stays alive)") {
    val profile = TxnProfile(Set("f1"), Set("f1"), _ => false)
    val hwmKey = CommitLog.IdentityPrefix + "rid.hwm"
    // winner is an ordinary assigning append: it advanced the mark —
    // an operational counter, not shape metadata; the rebase fast path
    // must survive on exactly these hot-append tables
    ConflictCheck.check(profile, baseSchema,
      Map(hwmKey -> "50"), Map("f1" -> 0L),
      Seq(commitOf(1, add = Seq(addFile("f9")),
        metadata = Map(hwmKey -> "500"))), "/t")
    // a REAL property change still conflicts
    intercept[MetadataChangedException] {
      ConflictCheck.check(profile, baseSchema,
        Map(hwmKey -> "50"), Map("f1" -> 0L),
        Seq(commitOf(1, metadata = Map(hwmKey -> "500", "graft.cdf" -> "true"))),
        "/t")
    }
  }

  test("row-id hwm advances are NOT metadata conflicts; rebased row ids stay disjoint") {
    val blind = TxnProfile(Set.empty, Set.empty, _ => false, isBlindAppend = true)
    ConflictCheck.check(blind, baseSchema,
      Map(CommitLog.RowIdHwmKey -> "9"), Map.empty,
      Seq(commitOf(1, add = Seq(addFile("f9")),
        metadata = Map(CommitLog.RowIdHwmKey -> "19"))), "/t")

    // end to end on a row-tracked log: a blind append loses its CAS to
    // another append and must rebase, taking its ids above the winner's
    val p = tmpDir("rowid_rebase") + "/t"
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    def append(name: String, rows: Long, expected: Option[Long] = None): Long =
      log.commit("WRITE", "Append", baseSchema, Nil,
        Map(CommitLog.RowTrackingKey -> "true"), Map.empty,
        Seq(AddFile(name, Map.empty, 1L, rows, 0L)), Nil, expectedVersion = expected)
    append("a", 10L)
    val base = log.snapshot()
    val winner = append("b", 7L)
    var attempts = 0
    val v = log.commitOrRebase(blind, base) { exp =>
      attempts += 1
      append("c", 5L, Some(exp))
    }
    assert(v == winner + 1 && attempts == 2)
    def ranges(version: Long): Seq[(Long, Long)] =
      log.readCommit(version).add.map(a =>
        (a.baseRowId.get, a.baseRowId.get + a.numRecords - 1))
    val (ws, we) = ranges(winner).head
    val (rs, re) = ranges(v).head
    assert(re < ws || rs > we, s"rebased ids [$rs, $re] overlap the winner's [$ws, $we]")
    // every live file's id range is disjoint from every other's
    val all = log.snapshot().files.map(a => (a.baseRowId.get, a.baseRowId.get + a.numRecords - 1))
      .sortBy(_._1)
    assert(all.size == 3)
    all.sliding(2).foreach { case Seq((_, e1), (s2, _)) => assert(e1 < s2, all) }
  }

  test("DV repoints: grown DV is a delete, shrunk DV (RESTORE) is an append") {
    val anyRead = TxnProfile(Set("f9"), Set("f9"), _ => true)
    // grown DV on an unrelated file: live rows only shrank — rebase OK
    check(anyRead, commitOf(1,
      add = Seq(addFile("f2", dv = Some(DvFile("_dv/x.bin", 7L)))),
      remove = Seq(RemoveFile("f2"))))
    // SHRUNK DV (5 -> 2, a RESTORE un-deleting rows) resurfaces rows
    intercept[ConcurrentAppendException] {
      check(anyRead, commitOf(1,
        add = Seq(addFile("f2", dv = Some(DvFile("_dv/x.bin", 2L)))),
        remove = Seq(RemoveFile("f2"))))
    }
    // blind appends only conflict on metadata/protocol
    check(anyRead.copy(isBlindAppend = true), commitOf(1,
      add = Seq(addFile("f3")), remove = Seq(RemoveFile("f2"))))
  }

  test("commitOrRebase lands derived actions over a commuting append, zero recompute") {
    val p = tmpDir("rebase") + "/t"
    GraftWriter.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    val base = log.snapshot() // v0 — derive a (synthetic) rewrite from it

    // a winner append slips in AFTER the derivation
    GraftWriter.write(spark, Seq((100L, 1000L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))

    var attempts = 0
    val profile = TxnProfile(
      readPaths = base.files.map(_.path).toSet,
      removePaths = base.files.map(_.path).toSet,
      mayRead = _ => false)
    val v = log.commitOrRebase(profile, base) { expected =>
      attempts += 1
      log.commit("OPTIMIZE", "compaction", base.schema.toDDL, Nil,
        Map.empty, Map.empty, add = Nil,
        remove = base.files.map(f => RemoveFile(f.path)),
        expectedVersion = Some(expected))
    }
    assert(v == 2L)
    assert(attempts == 2) // one lost CAS, one rebased success
    // the winner's rows survived; the base files are gone
    val rows = GraftTable(spark, p).toDf().as[(Long, Long)].collect().toSet
    assert(rows == Set((100L, 1000L)))
  }

  test("DELETE rebases over an append outside its key range (writeCow profile)") {
    val p = tmpDir("rebase_dml") + "/t"
    GraftWriter.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val table = GraftTable(spark, p)
    val base = table.snapshot()

    // derive the DELETE k <= 2 rewrite from the base snapshot
    val newData = table.dfForFiles(base, base.files).filter(col("k") > 2L)

    // concurrent append far outside the predicate's range
    GraftWriter.write(spark, Seq((100L, 1000L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))

    val profile = TxnProfile(
      readPaths = base.files.map(_.path).toSet,
      removePaths = base.files.map(_.path).toSet,
      mayRead = graft.io.DataSkipping.matcherFor(spark, base, col("k") <= 2L))
    val v = GraftWriter.writeCow(spark, newData, p, base,
      base.files.map(f => RemoveFile(f.path)),
      operation = "DELETE", metadata = Map.empty, profile = Some(profile))
    assert(v == 2L)
    val rows = GraftTable(spark, p).toDf().as[(Long, Long)].collect().toSet
    assert(rows == Set((100L, 1000L))) // delete applied, append survived

    // an append INSIDE the range conflicts instead of rebasing
    val base2 = table.snapshot()
    val newData2 = table.dfForFiles(base2, base2.files).filter(col("k") > 2L)
    GraftWriter.write(spark, Seq((2L, 21L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))
    intercept[ConcurrentAppendException] {
      GraftWriter.writeCow(spark, newData2, p, base2,
        base2.files.map(f => RemoveFile(f.path)),
        operation = "DELETE", metadata = Map.empty,
        profile = Some(TxnProfile(
          base2.files.map(_.path).toSet,
          base2.files.map(_.path).toSet,
          graft.io.DataSkipping.matcherFor(spark, base2, col("k") <= 2L))))
    }
  }

  test("DELETE on a date partition rebases over an append to another date (writeCow profile)") {
    val p = tmpDir("rebase_date") + "/t"
    val (d1, d2) = (java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-02"))
    GraftWriter.write(spark, Seq((1L, d1)).toDF("k", "d"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("d")))
    val table = GraftTable(spark, p)
    val cond = expr("d = DATE'2024-01-01'")
    def deleteFrom(base: Snapshot): Long =
      GraftWriter.writeCow(spark, table.dfForFiles(base, base.files).filter(!cond), p, base,
        base.files.map(f => RemoveFile(f.path)),
        operation = "DELETE", metadata = Map.empty,
        profile = Some(TxnProfile(
          base.files.map(_.path).toSet,
          base.files.map(_.path).toSet,
          graft.io.DataSkipping.matcherFor(spark, base, cond))))

    // a concurrent append to the other date: the DELETE rebases
    val base = table.snapshot()
    GraftWriter.write(spark, Seq((2L, d2)).toDF("k", "d"), p,
      WriteOptions(mode = WriteMode.Append))
    assert(deleteFrom(base) == 2L)
    assert(table.toDf().as[(Long, java.sql.Date)].collect().toSet == Set((2L, d2)))

    // an append to the deleted date conflicts instead
    val base2 = table.snapshot()
    GraftWriter.write(spark, Seq((3L, d1)).toDF("k", "d"), p,
      WriteOptions(mode = WriteMode.Append))
    intercept[ConcurrentAppendException](deleteFrom(base2))
  }

  test("a concurrent txn-marked append outside the read range rebases a DELETE") {
    val p = tmpDir("rebase_txn") + "/t"
    GraftWriter.write(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val table = GraftTable(spark, p)
    val base = table.snapshot()
    val newData = table.dfForFiles(base, base.files).filter(col("k") > 2L)
    // the winner only advances a graft.txn.* marker (a streaming
    // append's) and adds a file the DELETE's predicate cannot match
    GraftWriter.write(spark, Seq((100L, 1000L)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append,
        txnAppId = Some("stream-a"), txnVersion = Some(7L)))
    val v = GraftWriter.writeCow(spark, newData, p, base,
      base.files.map(f => RemoveFile(f.path)),
      operation = "DELETE", metadata = Map.empty,
      profile = Some(TxnProfile(
        base.files.map(_.path).toSet,
        base.files.map(_.path).toSet,
        graft.io.DataSkipping.matcherFor(spark, base, col("k") <= 2L))))
    assert(v == 2L)
    assert(table.toDf().as[(Long, Long)].collect().toSet == Set((100L, 1000L)))
    // the rebased commit carries the winner's marker forward
    assert(table.log.tableProperties().get(CommitLog.txnKey("stream-a")).contains("7"))
  }

  test("concurrent DELETE and appends stay correct end-to-end (typed conflicts retry)") {
    val p = tmpDir("conc_dml") + "/t"
    GraftWriter.write(spark,
      (1L to 100L).map(k => (k, k)).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val appender = new Thread(() => {
      (1 to 5).foreach { i =>
        GraftWriter.write(spark,
          Seq((1000L + i, 0L)).toDF("k", "v"), p,
          WriteOptions(mode = WriteMode.Append))
      }
    })
    appender.start()
    // deletes race the appends; the bounded retry (now conflict-typed)
    // must converge every time
    (1 to 5).foreach { i =>
      graft.merge.Dml.delete(spark, p, col("k") === (i * 10L))
    }
    appender.join()
    val rows = GraftTable(spark, p).toDf().as[(Long, Long)].collect()
    val keys = rows.map(_._1).toSet
    assert((1 to 5).forall(i => !keys(i * 10L)), "all deletes applied")
    assert((1 to 5).forall(i => keys(1000L + i)), "all appends landed")
    assert(rows.length == 100 - 5 + 5)
  }
}
