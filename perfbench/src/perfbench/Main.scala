package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one client, closed loop.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --trace-out <spans.jsonl>
  * }}}
  *
  * Untraced (`--trace 0`) it prints the end-to-end metrics. Traced, it
  * alternates traced and untraced rounds: the traced ones give the
  * per-layer metrics, and the two together give `trace.overhead_frac`.
  * The last stdout line is the one-line JSON result, with each metric as
  * a bare number; perfbench/run.py adds the units from BENCHMARK.json.
  * `correct` is false when any output failed its check; `failed` also
  * counts the calls that threw.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")

    val spark = session()
    Stats.note("session started")
    val tracer = new Tracer(spark, traced)
    val rec = new Recorder(tracer)
    val workload: Workload = name match {
      case "asset_daily"    => new AssetDaily(spark, work, seed, rec)
      case "table_metadata" => new TableMetadata(spark, work, seed, rec)
      case "pipeline_read"  => new PipelineRead(spark, work, seed, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    workload.setup()
    val setupAttempted = rec.attempted
    val setupFailed = rec.failed
    val setupWrong = rec.wrong
    rec.reset()
    // JVM uptime: process start, session start, warm-up and table build
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var rounds = 0
    // whole cycles only; a traced run needs a traced and an untraced round
    while (rounds % workload.cycle != 0 || rounds < (if (traced) 2 else 1) ||
        System.nanoTime() < deadline) {
      tracer.enabled = traced && rounds % 2 == 0
      workload.step()
      rounds += 1
    }
    tracer.enabled = false

    val attempted = setupAttempted + rec.attempted
    val failed = setupFailed + rec.failed
    val correct = setupWrong + rec.wrong == 0
    val metrics: Seq[(String, Double)] =
      if (!traced)
        Seq("setup_s" -> setupS, "ops_per_s" -> rec.completed / rec.timedSeconds,
          "heap_retained_mb" -> heapRetainedMb()) ++
          workload.e2e.zipWithIndex.map { case (v, i) => s"op${i + 1}_p50_s" -> v }
      else
        (workload.perLayer ++ sparkTotals(tracer, (rounds + 1) / 2) ++
          Map("trace.overhead_frac" -> overhead(rec))).toSeq.sortBy(_._1)
    if (traced) tracer.writeJsonl(java.nio.file.Paths.get(opts("trace-out")))
    report(rec, name, rounds)
    val json = metrics.map { case (n, v) => s""""$n": $v""" }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    spark.stop()
  }

  /** The session `graft.Bench` uses: `local[N]` and N shuffle partitions,
    * N = SPARK_GRAFT_CPUS (default 4) capped at the machine's cores.
    */
  def session(): SparkSession = {
    val cpus = math.min(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4),
      Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session machinery warm-up, as graft.Bench does before timing
    spark.range(1).write.format("noop").mode("overwrite").save()
    spark
  }

  /** Heap used after full GCs. Spark frees broadcast and cached blocks
    * from its ContextCleaner thread once a GC has found them unreachable,
    * so each GC is followed by a pause for that thread before the next.
    */
  private def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(300) }
    mem.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Spark work per traced round, summed over the top-level op spans. */
  private def sparkTotals(tracer: Tracer, tracedRounds: Int): Map[String, Double] = {
    val ops = tracer.spans.filter(_.name.startsWith("bench.")).toSeq
    val per = math.max(1, tracedRounds).toDouble
    def total(f: Span => Double) = ops.map(f).sum / per
    Map(
      "spark.jobs" -> total(_.counts.jobs),
      "spark.stages" -> total(_.counts.stages),
      "spark.tasks" -> total(_.counts.tasks),
      "spark.executor_run_s" -> total(_.counts.executorRunMs / 1e3),
      "spark.stage_wall_s" -> total(_.stageWallMs / 1e3),
      "spark.sched_gap_s" -> total(s => if (s.counts.jobs > 0) s.schedGapS else 0.0),
      "spark.shuffle_read_bytes" -> total(_.counts.shuffleRead),
      "spark.shuffle_write_bytes" -> total(_.counts.shuffleWrite),
      "spark.spill_bytes" -> total(_.counts.spill))
  }

  /** Traced over untraced time, from the per-kind medians of the two
    * interleaved halves of a traced run, minus one.
    */
  private def overhead(rec: Recorder): Double = {
    val both = rec.kinds.filter(k => rec.latencies(k, traced = true).nonEmpty &&
      rec.latencies(k).nonEmpty)
    val on = both.map(k => Stats.median(rec.latencies(k, traced = true))).sum
    val off = both.map(k => Stats.median(rec.latencies(k))).sum
    if (off > 0) on / off - 1 else 0.0
  }

  /** Sample counts and tail percentiles, for the reader of the log. */
  private def report(rec: Recorder, name: String, rounds: Int): Unit = {
    System.err.println(s"[perfbench] $name: $rounds rounds, ${rec.attempted} ops, " +
      s"${rec.failed} failed, ${rec.timedSeconds} s timed")
    rec.kinds.foreach { k =>
      Seq(false, true).map(t => (t, rec.latencies(k, t))).filter(_._2.nonEmpty).foreach {
        case (t, xs) =>
          val (v, p, n) = Stats.tail(xs)
          System.err.println(f"[perfbench]   $k%-22s ${if (t) "traced" else "plain"}%-6s " +
            f"n=$n%3d p50=${Stats.median(xs)}%.4f s  p$p%.0f=$v%.4f s  " +
            xs.map(x => f"$x%.3f").mkString(" "))
      }
    }
  }
}
