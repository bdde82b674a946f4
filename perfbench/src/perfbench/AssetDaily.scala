package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core._
import graft.ext.MaterializedAgg
import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.manager._
import graft.manager.TypeHandlers.dataFrameHandler
import graft.merge.{MergeConfig, MergeType}

/** A Dagster-style monthly-partitioned `orders` asset behind
  * [[GraftIOManager]]: the first half of 80 months is backfilled in set-up,
  * then each month of the timed loop runs a partition overwrite, a
  * late-arrival merge upsert, sliced loads of the month and of the months
  * the merge changed, and a matview refresh, with
  * OPTIMIZE / VACUUM / DESCRIBE HISTORY through SQL every 5th month.
  */
final class AssetDaily(spark: SparkSession, work: String, seed: Long, rec: Recorder)
    extends Workload {
  import AssetDaily._
  import Stats.expect

  private val tracer = rec.tracer
  private val io = new GraftIOManager(spark, s"$work/assets",
    mergeConfig = Some(MergeConfig(MergeType.Upsert, "s.o_orderkey = t.o_orderkey")))
  private val key = AssetKey(Seq("sales", "orders"))
  private val path = io.pathFor(TableSlice("sales", "orders"))
  private val mvPath = s"$work/assets/sales/orders_by_status"

  private val generated: Map[Int, Seq[Order]] =
    Gen.orders(seed, Rows, Months).toSeq.groupBy(_.month)
  private val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
  private var nextKey = Rows.toLong
  // what the table must hold: key -> row, and the keys of each month
  private val live = mutable.LongMap[Order]()
  private val byMonth = Array.fill(Months)(mutable.Set[Long]())
  private var month = Backfilled
  private var startVersion = 0L
  private var mergeVersions = Vector.empty[(Long, Long)] // (version, source rows)
  private val layer = new LayerSamples

  private def put(o: Order): Unit = {
    live.get(o.key).foreach(old => byMonth(old.month) -= o.key)
    live(o.key) = o
    byMonth(o.month) += o.key
  }

  private def window(m: Int) =
    TimeWindowDimension("o_month", Seq(TimeWindow(Gen.monthTs(m), Gen.monthTs(m + 1))))

  private def writeCtx(m: Int) = OutputContext(key, Map("mode" -> "overwrite"),
    Seq(window(m)), hasAssetPartitions = true)

  private def loadCtx(m: Int) = OutputContext(key, Map.empty, Seq(window(m)),
    Some(LoadColumns), hasAssetPartitions = true)

  private def totals(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum("o_price_cents"), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def checkTable(what: String): Unit = {
    val (n, cents) = totals(GraftTable(spark, path).toDf())
    expect(n == live.size, s"$what: $n rows, expected ${live.size}")
    val want = live.valuesIterator.map(_.cents).sum
    expect(cents == want, s"$what: price sum $cents cents, expected $want")
  }

  def setup(): Unit = {
    val backfill = (0 until Backfilled).flatMap(m => generated.getOrElse(m, Nil))
    GraftWriter.write(spark, Gen.ordersDf(spark, backfill), path,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("o_month")))
    backfill.foreach(put)
    Stats.note("backfilled")
    MaterializedAgg.refresh(spark, path, mvPath, Seq("o_orderstatus"), "o_price_cents")
    Stats.note("matview built")
    checkTable("backfill")
    // the first loop months are warm-up and part of set-up: the first pays
    // codegen and class loading, and the months after it kept getting
    // faster for several months while the JIT caught up
    runMonth(maintenance = true)
    (1 until WarmUpMonths).foreach(_ => runMonth(maintenance = false))
    Stats.note("warm-up months done")
    startVersion = GraftTable(spark, path).version()
  }

  /** Timed months come in cycles of [[MaintenanceEvery]]; the last month of
    * each cycle also runs maintenance, so every cycle has the same mix.
    * A cycle is longer than a run's --seconds (5) on the reference
    * machine, so a run times exactly one cycle.
    */
  val cycle: Int = MaintenanceEvery

  def step(): Unit = runMonth(maintenance = (month - WarmUpEnd + 1) % MaintenanceEvery == 0)

  /** The late-arrival batch for month `m`: about 1/16 of the rows of the
    * three months before it with changed prices, plus 1/8 as many new
    * keys dated inside those months.
    */
  private def lateBatch(m: Int): Seq[Order] = {
    val months = (m - 3 until m).filter(_ >= 0)
    val updates = months.flatMap(mm => byMonth(mm).toSeq.sorted)
      .filter(_ => rnd.nextInt(16) == 0)
      .map { k =>
        val o = live(k)
        o.copy(cents = math.max(100L, o.cents + rnd.nextLong(20001L) - 10000L))
      }
    val inserts = Seq.fill(math.max(1, updates.size / 8)) {
      val mm = months(rnd.nextInt(months.size))
      nextKey += 1
      Order(nextKey, rnd.nextInt(15000).toLong, Gen.Statuses(rnd.nextInt(3)),
        100191L + rnd.nextLong(49899128L), Gen.randomMicros(rnd, mm),
        Gen.Priorities(rnd.nextInt(5)), mm)
    }
    updates ++ inserts
  }

  private def runMonth(maintenance: Boolean): Unit = {
    val m = Backfilled + (month - Backfilled) % (Months - Backfilled)
    month += 1

    val rows = generated.getOrElse(m, Nil)
    val out = Gen.ordersDf(spark, rows)
    if (tracer.enabled) compileSlice(writeCtx(m), SliceCompiler.WriteSide, out)
    rec.op("write")(tracer.span("manager.write")(io.handleOutput(writeCtx(m), out))) { _ =>
      byMonth(m).toSeq.foreach(live.remove)
      byMonth(m).clear()
      rows.foreach(put)
    }

    val batch = lateBatch(m)
    val src = Gen.ordersDf(spark, batch)
    rec.op("merge")(tracer.span("manager.merge")(
      io.handleOutput(OutputContext(key, Map("mode" -> "merge")), src))) { v =>
      batch.foreach(put)
      mergeVersions :+= ((v, batch.size.toLong))
      checkTable(s"merge into month $m")
    }

    // downstream reads the new month and the months the late batch changed
    (m +: batch.map(_.month).distinct.sorted).foreach { lm =>
      if (tracer.enabled) compileSlice(loadCtx(lm), SliceCompiler.ReadSide, out)
      val obs = Observation()
      rec.op("load")(tracer.span("manager.load") {
        io.loadInput[DataFrame](loadCtx(lm))
          .observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        obs.get("n").asInstanceOf[Long]
      }) { n => expect(n == byMonth(lm).size, s"load of month $lm: $n rows, expected ${byMonth(lm).size}") }
    }

    rec.op("refresh")(tracer.span("ext.matview_refresh")(
      MaterializedAgg.refresh(spark, path, mvPath, Seq("o_orderstatus"), "o_price_cents"))) {
      applied => checkMatview(applied.getOrElse(GraftTable(spark, path).version()))
    }

    if (maintenance) maintain()
  }

  private def compileSlice(ctx: OutputContext, side: SliceCompiler.Side, df: DataFrame): Unit = {
    val slice = io.resolveSlice(ctx)
    tracer.span("core.compile")(SliceCompiler.compile(slice, side, Some(df.schema)))
    layer.add("core.predicates", SliceCompiler.toDnf(slice, side).size)
  }

  private def checkMatview(version: Long): Unit = {
    val want = GraftTable(spark, path).toDf(Some(version))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"), sum("o_price_cents").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = GraftTable(spark, mvPath).toDf().select("o_orderstatus", "n_rows", "sum_val")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    expect(got == want, s"matview $got != direct GROUP BY $want at version $version")
  }

  private def maintain(): Unit = {
    val t = s"graft.`$path`"
    rec.op("optimize")(tracer.span("plans.optimize_sql")(
      spark.sql(s"OPTIMIZE $t").collect())) { _ => checkTable("optimize") }
    rec.op("vacuum")(tracer.span("plans.vacuum_sql")(
      spark.sql(s"VACUUM $t").collect())) { removed =>
      // default retention: every tombstoned file is younger than it
      expect(removed.isEmpty, s"vacuum removed ${removed.length} files inside retention")
    }
    rec.op("history")(tracer.span("plans.history_sql")(
      spark.sql(s"DESCRIBE HISTORY $t").collect())) { rows =>
      val v = GraftTable(spark, path).version()
      expect(rows.length == v + 1, s"history has ${rows.length} rows at version $v")
    }
  }

  def e2e: Seq[Double] =
    Seq("merge", "write", "load", "refresh").map(k => Stats.median(rec.latencies(k)))

  def perLayer: Map[String, Double] = {
    def med(n: String) = Stats.median(tracer.named(n).map(_.seconds))
    def medOf(n: String)(f: Span => Double) = Stats.median(tracer.named(n).map(f))
    val table = GraftTable(spark, path)
    val commits = ((startVersion + 1) to table.version()).map(table.log.readCommit)
    // live file sizes, replayed forward so a removed file's size is known
    val sizes = mutable.HashMap[String, Long]()
    table.snapshot(Some(startVersion)).files.foreach(f => sizes(f.path) = f.sizeBytes)
    val mergeSet = mergeVersions.toMap
    val rewrite = mutable.ArrayBuffer[(Double, Double, Double)]()
    commits.foreach { c =>
      val removedBytes = c.remove.map(r => sizes.getOrElse(r.path, 0L)).sum
      mergeSet.get(c.version).foreach { srcRows =>
        rewrite += ((c.remove.size.toDouble, removedBytes.toDouble,
          c.add.map(_.numRecords).sum.toDouble / math.max(1L, srcRows)))
      }
      c.remove.foreach(r => sizes.remove(r.path))
      c.add.foreach(a => sizes(a.path) = a.sizeBytes)
    }
    val snaps = Seq(table.snapshot(), GraftTable(spark, mvPath).snapshot())
    val liveBytes = snaps.flatMap(_.files).map(_.sizeBytes).sum.toDouble
    val fs = table.log.fs
    val onDisk = Seq(path, mvPath).map(p =>
      fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength).sum.toDouble
    val written = commits.flatMap(_.add).map(_.sizeBytes).sum.toDouble
    val optimize = tracer.named("plans.optimize_sql")
    layer.values ++ Map(
      "manager.write_s" -> med("manager.write"),
      "manager.merge_s" -> med("manager.merge"),
      "manager.load_s" -> med("manager.load"),
      "manager.write_jobs" -> medOf("manager.write")(_.counts.jobs.toDouble),
      "manager.merge_jobs" -> medOf("manager.merge")(_.counts.jobs.toDouble),
      "manager.load_jobs" -> medOf("manager.load")(_.counts.jobs.toDouble),
      "manager.write_sched_gap_s" -> medOf("manager.write")(_.schedGapS),
      "manager.merge_sched_gap_s" -> medOf("manager.merge")(_.schedGapS),
      "core.compile_s" -> med("core.compile"),
      "merge.stages" -> medOf("manager.merge")(_.counts.stages.toDouble),
      "merge.shuffle_bytes" -> medOf("manager.merge")(s =>
        (s.counts.shuffleRead + s.counts.shuffleWrite).toDouble),
      "merge.files_rewritten" -> Stats.median(rewrite.map(_._1).toSeq),
      "merge.bytes_rewritten" -> Stats.median(rewrite.map(_._2).toSeq),
      "merge.rows_rewritten_per_source_row" -> Stats.median(rewrite.map(_._3).toSeq),
      "io.files_added" -> Stats.median(commits.map(_.add.size.toDouble)),
      "io.files_removed" -> Stats.median(commits.map(_.remove.size.toDouble)),
      "io.bytes_added" -> Stats.median(commits.map(_.add.map(_.sizeBytes).sum.toDouble)),
      "io.live_files" -> snaps.head.files.size.toDouble,
      "io.space_amp" -> onDisk / liveBytes,
      "io.write_amp" -> written / liveBytes,
      "io.optimize_s" -> Stats.median(optimize.map(_.stageWallMs / 1e3)),
      "io.optimize_jobs" -> Stats.median(optimize.map(_.counts.jobs.toDouble)),
      "plans.optimize_sql_s" -> med("plans.optimize_sql"),
      "plans.vacuum_sql_s" -> med("plans.vacuum_sql"),
      "plans.history_sql_s" -> med("plans.history_sql"),
      "ext.matview_refresh_s" -> med("ext.matview_refresh"),
      "ext.matview_refresh_jobs" -> medOf("ext.matview_refresh")(_.counts.jobs.toDouble)) ++
      Fs.perOp(tracer, Map("write" -> "manager.write", "merge" -> "manager.merge"))
  }
}

object AssetDaily {
  val Rows = 150000
  val Months = 80
  val Backfilled = 40
  val WarmUpMonths = 3
  /** The month counter once the warm-up months are done. */
  val WarmUpEnd = Backfilled + WarmUpMonths
  val MaintenanceEvery = 5
  val LoadColumns: Seq[String] = Seq("o_orderkey", "o_orderstatus", "o_price_cents")
}
