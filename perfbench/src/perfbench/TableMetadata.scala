package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

import graft.core.{StaticDimension, TableSlice}
import graft.io.GraftTable
import graft.log.{AddFile, CommitLog, FileColStat, TxnProfile}
import graft.sources.GraftFileIndex

/** The commit log and file planning at table-layer scale: a synthetic
  * metadata-only table in the ScalePlanningSpec shape (20k add actions
  * with partition values and per-column stats over 100 commits, default
  * checkpoint interval, row tracking on). Each round opens the table
  * cold and at a seed-chosen older version, lists it full /
  * partition-pruned / stats-skipped, builds sliced-scan plans (plain and
  * with row ids), then commits: one commit that must rebase over an
  * interleaved one, and single-file appends. Nothing here runs a Spark
  * job by design.
  */
final class TableMetadata(spark: SparkSession, work: String, seed: Long, rec: Recorder)
    extends Workload {
  import TableMetadata._
  import Stats.expect

  private val tracer = rec.tracer
  private val path = s"$work/meta"
  private val rnd = new SplittableRandom(seed)
  private val writer = new CommitLog(path, spark.sessionState.newHadoopConf())
  private var files = 0 // add actions committed so far = live files
  private val perPart = Array.fill(Parts)(0)
  private var version = -1L
  private val layer = new LayerSamples

  private def add(g: Int): AddFile = {
    val lo = g.toLong * RowsPerFile
    AddFile(f"p=${g % Parts}/part-$g%07d.parquet", Map("p" -> (g % Parts).toString),
      128L * 1024 * 1024, RowsPerFile, 1L,
      stats = Map(
        "id" -> FileColStat(Some(lo.toString), Some((lo + RowsPerFile - 1).toString), 0L),
        "v" -> FileColStat(Some(rnd.nextInt(1000).toString),
          Some((1000 + rnd.nextInt(1000)).toString), 0L)))
  }

  private def commitFiles(n: Int, log: CommitLog, expected: Option[Long] = None): Long = {
    val adds = (files until files + n).map(add)
    val v = log.commit("WRITE", "Append", Schema, Seq("p"),
      if (version < 0) Map(CommitLog.RowTrackingKey -> "true") else Map.empty,
      Map("numFiles" -> n.toLong), adds, Nil, expectedVersion = expected)
    files += n
    adds.foreach(a => perPart(a.partitionValues("p").toInt) += 1)
    version = v
    v
  }

  def setup(): Unit = {
    // the history is written with checkpoints off, then checkpointed once
    // at its head; the timed commits use the default interval (10)
    val history = new CommitLog(path, spark.sessionState.newHadoopConf(),
      checkpointInterval = 0)
    (0 until SynthCommits).foreach(_ => commitFiles(FilesPerCommit, history))
    Stats.note(s"synthesized $files files in $SynthCommits commits")
    writer.writeCheckpoint(version)
    Stats.note("checkpointed")
    // the commit path's JIT warm-up, on a small side table whose
    // checkpoints cost nothing: the timed commits are a few milliseconds
    val side = new CommitLog(s"$work/side", spark.sessionState.newHadoopConf())
    (0 until SideCommits).foreach { i =>
      side.commit("WRITE", "Append", Schema, Seq("p"), Map.empty, Map.empty,
        Seq(AddFile(f"p=0/side-$i%05d.parquet", Map("p" -> "0"), 1L, 1L, 1L)), Nil)
    }
    // warm-up: an untimed round, so class loading, the first plans'
    // analyzer rules and most JIT compilation are paid in set-up
    step()
  }

  private def pEquals(k: Int): Expression =
    EqualTo(AttributeReference("p", LongType)(), Literal(k.toLong))

  /** Four rounds make a cycle, longer than a run's --seconds (5) on the
    * reference machine, so every run times the same work. An even count
    * lets a traced run trace half of the rounds.
    */
  val cycle = 4

  def step(): Unit = {
    val tt = rnd.nextInt(SynthCommits).toLong
    val snap = (1 to PerRound).map { _ =>
      rec.op("open")(tracer.span("log.replay_cold")(GraftTable(spark, path).snapshot())) { s =>
        expect(s.files.size == files, s"cold open: ${s.files.size} files, expected $files")
        expect(s.version == version, s"cold open at version ${s.version}, expected $version")
        if (tracer.enabled) layer.add("log.commits_replayed", s.commits.size)
      }
    }.last
    rec.op("open_tt")(tracer.span("log.replay_timetravel")(
      GraftTable(spark, path).snapshot(Some(tt)))) { s =>
      val want = (tt + 1) * FilesPerCommit
      expect(s.files.size == want, s"open at version $tt: ${s.files.size} files, expected $want")
    }

    snap.foreach { s =>
      val idx = new GraftFileIndex(spark, path, s)
      def listed(dirs: Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory]) =
        dirs.map(_.files.length).sum
      rec.op("list_full")(tracer.span("sources.list_full")(idx.listFiles(Nil, Nil))) { d =>
        expect(listed(d) == files, s"full listing: ${listed(d)} files, expected $files")
      }
      // several partitions and id ranges per round: each call is cheap
      (0 until ListingsPerRound).foreach { _ =>
        val k = rnd.nextInt(Parts)
        rec.op("list_pruned")(tracer.span("sources.list_pruned")(
          idx.listFiles(Seq(pEquals(k)), Nil))) { d =>
          expect(listed(d) == perPart(k), s"p=$k listing: ${listed(d)} files, expected ${perPart(k)}")
          if (tracer.enabled) layer.add("sources.files_kept_ratio", listed(d).toDouble / files)
        }
        // an id range spanning SkipFiles whole files: stats keep exactly those
        val g0 = rnd.nextInt(files - SkipFiles)
        val id = AttributeReference("id", LongType)()
        val range = Seq(
          GreaterThanOrEqual(id, Literal(g0.toLong * RowsPerFile)),
          LessThan(id, Literal((g0 + SkipFiles).toLong * RowsPerFile)))
        rec.op("skip_stats")(tracer.span("sources.skip_stats")(idx.listFiles(Nil, range))) { d =>
          expect(listed(d) == SkipFiles, s"stats skipping kept ${listed(d)} files, expected $SkipFiles")
          if (tracer.enabled) layer.add("sources.stats_kept_ratio", listed(d).toDouble / files)
        }
      }
    }

    (1 to PerRound).foreach { _ =>
      val slice = TableSlice("meta", "t",
        Seq(StaticDimension("p", Seq(rnd.nextInt(Parts).toString))), Some(Seq("id")))
      rec.op("plan")(tracer.span("sources.plan")(
        GraftTable(spark, path).scan(slice).queryExecution.executedPlan)) { p =>
        expect(!p.toString.contains("BroadcastExchange"), "sliced-scan plan holds a broadcast")
      }
    }
    val k = rnd.nextInt(Parts)
    rec.op("plan_rowids")(tracer.span("sources.plan_rowids")(
      GraftTable(spark, path).toDfWithRowIds().filter(col("p") === k.toLong)
        .queryExecution.executedPlan)) { p =>
      expect(!p.toString.contains("BroadcastExchange"), "row-id plan holds a broadcast")
    }

    // a blind append that loses its first compare-and-swap to a commit
    // landed in between, and must rebase over it. A refused rebase (a
    // typed GraftConcurrencyException) is a failed operation.
    snap.foreach { base =>
      commit()
      val blind = TxnProfile(Set.empty, Set.empty, _ => false, isBlindAppend = true)
      rec.op("rebase")(tracer.span("log.rebase")(
        writer.commitOrRebase(blind, base) { exp => commitFiles(1, writer, Some(exp)) })) { v =>
        expect(v == base.version + 2, s"rebased commit at $v, expected ${base.version + 2}")
      }
    }
    (0 until AppendsPerRound).foreach(_ => commit())
  }

  /** A 1-file append; the commits that also write a checkpoint are their
    * own kind, so `commit` is the plain commit alone.
    */
  private def commit(): Unit = {
    val want = version + 1
    val ckpt = want % CheckpointInterval == 0
    rec.op(if (ckpt) "commit_checkpoint" else "commit")(
      tracer.span(if (ckpt) "log.commit_checkpoint" else "log.commit")(
        commitFiles(1, writer))) { v => expect(v == want, s"commit at $v, expected $want") }
  }

  def e2e: Seq[Double] =
    Seq("commit", "open", "plan", "list_pruned").map(k => Stats.median(rec.latencies(k)))

  def perLayer: Map[String, Double] = {
    def med(n: String) = Stats.median(tracer.named(n).map(_.seconds))
    val fs = writer.fs
    val logFiles = fs.listStatus(writer.logDir).toSeq
    val checkpoint = logFiles.filter(_.getPath.getName.startsWith("ckpt-"))
      .sortBy(_.getPath.getName).lastOption.map(_.getLen).getOrElse(0L)
    layer.values ++ Map(
      "log.replay_cold_s" -> med("log.replay_cold"),
      "log.replay_timetravel_s" -> med("log.replay_timetravel"),
      "log.commit_s" -> med("log.commit"),
      "log.rebase_s" -> med("log.rebase"),
      "log.checkpoint_write_s" ->
        math.max(0.0, med("log.commit_checkpoint") - med("log.commit")),
      "log.checkpoint_bytes" -> checkpoint.toDouble,
      "log.log_bytes" -> logFiles.map(_.getLen).sum.toDouble,
      "sources.list_full_s" -> med("sources.list_full"),
      "sources.list_pruned_s" -> med("sources.list_pruned"),
      "sources.skip_stats_s" -> med("sources.skip_stats"),
      "sources.plan_s" -> med("sources.plan"),
      "sources.plan_rowids_s" -> med("sources.plan_rowids")) ++
      Fs.perOp(tracer, Map("open" -> "log.replay_cold", "commit" -> "log.commit"))
  }
}

object TableMetadata {
  val SynthCommits = 100
  val FilesPerCommit = 200
  val Parts = 100
  val RowsPerFile = 1000000L
  val SkipFiles = 200
  /** With the interleaved commit a round commits ten versions (eleven
    * once a rebase succeeds): about one checkpoint per round.
    */
  val AppendsPerRound = 9
  /** CommitLog's default checkpoint interval. */
  val CheckpointInterval = 10
  /** Untimed commits to a small side table in set-up (JIT warm-up). */
  val SideCommits = 100
  val ListingsPerRound = 8
  /** Cold opens and sliced-scan plans per round. */
  val PerRound = 2
  val Schema = "id BIGINT, v BIGINT, p BIGINT"
}
