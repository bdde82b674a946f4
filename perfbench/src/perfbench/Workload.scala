package perfbench

import scala.collection.mutable

/** One benchmark workload: an untimed set-up, then a closed loop of
  * `step` calls by one client.
  */
trait Workload {
  def setup(): Unit

  /** One round of the loop; every operation in it goes through the
    * [[Recorder]].
    */
  def step(): Unit

  /** A run stops only after a whole number of cycles of this many rounds,
    * and never before the first: the mix of operations is the same in
    * every cycle.
    */
  def cycle: Int

  /** The workload's four headline latencies (medians, or sums of
    * medians), in the order of the `op1_p50_s` .. `op4_p50_s` metrics.
    */
  def e2e: Seq[Double]

  /** Per-layer metrics from the traced rounds. */
  def perLayer: Map[String, Double]
}

/** Per-layer values that the benchmark computes itself rather than reads
  * from a span (counts and ratios), reported as medians.
  */
final class LayerSamples {
  private val xs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit =
    xs.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def values: Map[String, Double] =
    xs.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
}

object Fs {
  /** Hadoop's local file system counts bytes but not operations, so only
    * the byte counters are reported.
    */
  val Counters: Seq[String] = Seq("bytes_read", "bytes_written")
  val Ops: Seq[String] = Seq("open", "commit", "write", "merge")

  /** Median Hadoop FileSystem byte counts per call of each named span, as
    * `fs.<counter>.<op>`. Op types a workload never runs read 0.
    */
  def perOp(tracer: Tracer, spanOf: Map[String, String]): Map[String, Double] =
    (for (op <- Ops; counter <- Counters) yield {
      val spans = spanOf.get(op).map(tracer.named).getOrElse(Nil)
      s"fs.$counter.$op" -> Stats.median(spans.map { s =>
        (if (counter == "bytes_read") s.counts.fsBytesRead else s.counts.fsBytesWritten).toDouble
      })
    }).toMap
}
