package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
import org.apache.spark.sql.types.LongType

import graft.io.GraftTable
import graft.log.{AddFile, CommitLog}

/** Planning-scale invariants at ~50k files — pins the 100×-scale claims
  * about the commit-log read path that were previously argued from code
  * alone: cold replay (across a checkpoint boundary), metadata-only
  * listing with partition pruning, and physical plan construction must
  * all stay metadata-cheap, and the executed plan must hold no
  * broadcast at all (the file list lives in the FileIndex; nothing
  * file-count-proportional is ever exchanged or embedded in the plan).
  *
  * The table is SYNTHETIC: add-actions committed straight to the log
  * with no parquet behind them. Planning never opens a data file — the
  * commit log carries every path/size/partition value — so everything
  * up to (but excluding) execution works on a table whose files don't
  * exist, which is itself the property under test: zero per-file
  * filesystem calls anywhere on the planning path.
  */
class ScalePlanningSpec extends SparkSpec {

  private val NumFiles = 50000
  private val NumParts = 100
  private val NumCommits = 10

  private def synthesize(p: String): Unit = {
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    val perCommit = NumFiles / NumCommits
    (0 until NumCommits).foreach { c =>
      val adds = (0 until perCommit).map { i =>
        val g = c * perCommit + i
        AddFile(
          path = f"p=${g % NumParts}/part-$g%06d.parquet",
          partitionValues = Map("p" -> (g % NumParts).toString),
          sizeBytes = 128L * 1024 * 1024,
          numRecords = 1000000L,
          modificationTime = 1L)
      }
      log.commit("WRITE", "Append", "id BIGINT,p BIGINT", Seq("p"),
        // row tracking on from v0: every synthetic add gets a baseRowId
        // from the carried HWM, so the per-file-constant row-id read
        // plan (§P) is exercised at this file count too
        if (c == 0) Map(CommitLog.RowTrackingKey -> "true") else Map.empty,
        Map.empty, adds, Nil)
    }
  }

  private def timedMs[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1000000L)
  }

  test("50k files: replay, pruned listing, and plan construction stay metadata-cheap") {
    val p = tmpDir("scale50k")
    val (_, tWrite) = timedMs(synthesize(p))
    info(s"synthesized $NumFiles adds across $NumCommits commits in ${tWrite}ms")

    // cold replay: fresh table object, reads the v9 checkpoint + tail.
    // Bounds are ~10x the expected cost on an idle machine — loose
    // enough for CI load, tight enough that anything superlinear in
    // #files (the regression class this spec exists for) blows through
    val (snap, tReplay) = timedMs(GraftTable(spark, p).snapshot())
    assert(snap.files.size == NumFiles)
    assert(tReplay < 30000, s"cold replay took ${tReplay}ms")
    info(s"cold replay: ${tReplay}ms")

    // metadata-only listing with partition pruning: exactly one
    // partition's files survive, and nothing stats the (nonexistent)
    // data files
    val idx = new graft.sources.GraftFileIndex(spark, p, snap)
    val filt = EqualTo(AttributeReference("p", LongType)(), Literal(3L))
    val (pruned, tList) = timedMs(idx.listFiles(Seq(filt), Nil))
    assert(pruned.map(_.files.length).sum == NumFiles / NumParts)
    assert(tList < 10000, s"pruned listing took ${tList}ms")
    val (full, tFull) = timedMs(idx.listFiles(Nil, Nil))
    assert(full.map(_.files.length).sum == NumFiles)
    assert(tFull < 10000, s"full listing took ${tFull}ms")
    info(s"listing: pruned ${tList}ms, full ${tFull}ms")

    // physical plan construction for a pruned scan — analyzer +
    // optimizer + strategies over the 50k-file relation
    val df = GraftTable(spark, p).toDf()
      .filter(col("p") === 3L).select("id")
    val (plan, tPlan) = timedMs(df.queryExecution.executedPlan)
    assert(tPlan < 30000, s"plan construction took ${tPlan}ms")
    val planStr = plan.toString
    assert(!planStr.contains("BroadcastExchange"),
      s"a single-table pruned scan must hold no broadcast:\n$planStr")
    info(s"plan construction: ${tPlan}ms")

    // the row-id read plan serves per-file base ids as partition-column
    // constants — construction must stay flat at this file count (the
    // pre-r15 global path→base map was exactly the O(#files) plan
    // object this asserts against)
    val (rPlan, tRowIds) = timedMs(
      spark.read.format("graft").option("withRowIds", "true").load(p)
        .filter(col("p") === 3L)
        .queryExecution.executedPlan)
    assert(tRowIds < 30000, s"withRowIds plan construction took ${tRowIds}ms")
    assert(!rPlan.toString.contains("BroadcastExchange"))
    info(s"withRowIds plan construction: ${tRowIds}ms")

    // time travel re-plans from an older snapshot without re-listing
    // anything on the filesystem
    val (snapV4, tTravel) = timedMs(
      GraftTable(spark, p).snapshot(versionAsOf = Some(4L)))
    assert(snapV4.files.size == NumFiles / 2)
    assert(tTravel < 30000, s"time-travel replay took ${tTravel}ms")
    info(s"time-travel replay: ${tTravel}ms")
  }

  test("a non-bucketed read plans from the checkpoint and its suffix alone") {
    import spark.implicits._
    val p = tmpDir("suffix") + "/t"
    (0 until 4).foreach { v =>
      graft.io.GraftWriter.write(spark,
        Seq((v * 10L, v.toLong % 2), (v * 10L + 1, v.toLong % 2)).toDF("id", "p"), p,
        graft.io.WriteOptions(partitionBy = Seq("p")))
    }
    val t = GraftTable(spark, p)
    t.log.writeCheckpoint(2L)
    // a commit BELOW the checkpoint turns unreadable: nothing that plans
    // a read at or after the checkpoint may parse it
    val below = new java.io.File(s"$p/_graft_log/v0000000001.json")
    java.nio.file.Files.write(below.toPath, "{not json".getBytes("UTF-8"))
    intercept[Exception](t.log.readCommit(1L))

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    val all = Set(0L, 1L, 10L, 11L, 20L, 21L, 30L, 31L)
    assert(ids(t.toDf()) == all)
    val slice = graft.core.TableSlice("s", "t",
      Seq(graft.core.StaticDimension("p", Seq("1"))), Some(Seq("id")))
    assert(ids(t.scan(slice)) == Set(10L, 11L, 30L, 31L))
    assert(ids(spark.read.format("graft").load(p)) == all)
    assert(ids(t.toDf(Some(2L))) == all -- Set(30L, 31L))
    assert(ids(t.scan(slice, Some(3L))) == Set(10L, 11L, 30L, 31L))
    assert(ids(spark.read.format("graft").option("versionAsOf", 2L).load(p)) ==
      all -- Set(30L, 31L))
  }
}
