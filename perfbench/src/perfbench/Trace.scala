package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters sampled at span boundaries: Spark work seen by the listener
  * and local-filesystem work seen by Hadoop's FileSystem statistics.
  */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    executorRunMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, fsBytesRead: Long = 0, fsBytesWritten: Long = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    executorRunMs - o.executorRunMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill,
    fsBytesRead - o.fsBytesRead, fsBytesWritten - o.fsBytesWritten)
}

/** One traced call: `name` is `<layer>.<call>`, `parent` is the id of the
  * enclosing span (-1 at top level), `op` the workload operation it
  * belongs to, `ok` false when the call threw. Times are wall-clock
  * milliseconds (the clock Spark stamps stages with) plus a nanosecond
  * duration.
  */
final case class Span(
    id: Int, parent: Int, op: Long, name: String,
    startMs: Long, endMs: Long, nanos: Long, counts: Counts, stageWallMs: Long,
    ok: Boolean) {
  def seconds: Double = nanos / 1e9
  def schedGapS: Double = math.max(0.0, seconds - stageWallMs / 1e3)
}

/** Cumulative Spark counters, fed by the listener bus. Stage intervals are
  * kept so a span can compute the union of stage walls inside it.
  */
final class SparkProbe extends SparkListener {
  @volatile private var c = Counts()
  private val intervals = ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    c = c.copy(
      stages = c.stages + 1,
      tasks = c.tasks + i.numTasks,
      executorRunMs = c.executorRunMs + (if (m == null) 0 else m.executorRunTime),
      shuffleRead = c.shuffleRead + (if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead),
      shuffleWrite = c.shuffleWrite + (if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten),
      spill = c.spill + (if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled))
    for (s <- i.submissionTime; e <- i.completionTime) intervals += ((s, e))
  }

  def counts: Counts = synchronized(c)

  /** Milliseconds of [from, to] covered by at least one stage. */
  def stageCover(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }
}

/** In-memory span recorder. When `enabled` is false a span is just the
  * call it wraps: no clock reads, no counter reads, no allocation. The
  * Spark listener is registered only for a traced run.
  */
final class Tracer(spark: SparkSession, traced: Boolean) {
  var enabled = false
  private val probe = new SparkProbe
  if (traced) spark.sparkContext.addSparkListener(probe)
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = 0L

  def counts(): Counts = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    probe.counts.copy(
      fsBytesRead = fs.map(_.getBytesRead).sum,
      fsBytesWritten = fs.map(_.getBytesWritten).sum)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = counts()
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      stack = id :: stack
      var ok = false
      try { val r = body; ok = true; r }
      finally {
        val nanos = System.nanoTime() - t0
        stack = stack.tail
        val c1 = counts()
        val ms1 = System.currentTimeMillis()
        spans += Span(id, parent, op, name, ms0, ms1, nanos, c1 - c0,
          probe.stageCover(ms0, ms1), ok)
      }
    }

  /** The completed calls of one span name: a call that threw is never a
    * per-layer sample.
    */
  def named(name: String): Seq[Span] = spans.filter(s => s.ok && s.name == name).toSeq

  /** One JSON line per span. `self_s` is the span's time minus the part
    * its child spans cover (children of one span never overlap: one
    * client, one call at a time).
    */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val childSeconds = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    val lines = spans.map { s =>
      val c = s.counts
      val self = s.seconds - childSeconds.getOrElse(s.id, 0.0)
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","ok":${s.ok},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds},"self_s":$self,""" +
        s""""stage_wall_s":${s.stageWallMs / 1e3},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"executor_run_s":${c.executorRunMs / 1e3},""" +
        s""""shuffle_read_bytes":${c.shuffleRead},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""spill_bytes":${c.spill},"fs_bytes_read":${c.fsBytesRead},""" +
        s""""fs_bytes_written":${c.fsBytesWritten}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
