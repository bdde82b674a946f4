package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ext.Scratch

/** Read-only LLM-pipeline operators: sweeps over a fixed named subset of
  * `SparkEntry.benchQueries` on generated sf0.1-shaped tables, each query
  * materialized into the `noop` sink as graft.Bench does. These queries
  * never touch the commit log or merge, so table-layer changes must read
  * flat here while operator and kernel changes show.
  */
final class PipelineRead(spark: SparkSession, work: String, seed: Long, rec: Recorder)
    extends Workload {
  import PipelineRead._
  import Stats.expect

  private val tracer = rec.tracer
  private val dir = s"$work/tables"
  /** Each query's (rows, hash sum) from the untimed sweep. */
  private val digests = mutable.Map[String, (Long, Long)]()

  def setup(): Unit = {
    PipelineGen.write(spark, seed, dir, Scale)
    Stats.note("tables written")
    // the cold sweep pays codegen and class loading; its digests are the
    // reference the timed sweeps must reproduce
    sweep()
    Stats.note("warm-up sweep done")
  }

  /** One sweep per round: a run longer than a sweep times whole sweeps. */
  val cycle = 1

  def step(): Unit = sweep()

  private def sweep(): Unit = Queries.foreach { q =>
    val obs = Observation()
    rec.op(q)(tracer.span(s"ext.query.$q") {
      val df = SparkEntry.queries(q)(spark, dir)
      // an order-insensitive digest, computed in the same execution
      val h = pmod(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*), lit(Int.MaxValue.toLong))
      df.observe(obs, count(lit(1)).as("n"), coalesce(sum(h), lit(0L)).as("h"))
        .write.format("noop").mode("overwrite").save()
      val r = obs.get
      (r("n").asInstanceOf[Long], r("h").asInstanceOf[Long])
    }) { d =>
      expect(d._1 > 0, s"$q returned no rows")
      digests.get(q) match {
        case Some(want) => expect(d == want, s"$q digest $d differs from the first sweep's $want")
        case None => digests(q) = d
      }
    }
    // release pair-generator scratch checkpoints outside the timed call,
    // as graft.Bench does between queries
    Scratch.drain()
  }

  private def total(qs: Seq[String]): Double = qs.map(q => Stats.median(rec.latencies(q))).sum

  def e2e: Seq[Double] = Seq(total(Queries), total(Dedup), total(Vector), total(Text))

  def perLayer: Map[String, Double] = Queries.flatMap { q =>
    val spans = tracer.named(s"ext.query.$q")
    Seq(s"ext.query_s.$q" -> Stats.median(spans.map(_.seconds)),
      s"ext.query_jobs.$q" -> Stats.median(spans.map(_.counts.jobs.toDouble)))
  }.toMap
}

object PipelineRead {
  /** 1.0 is sf0.1. */
  val Scale = 1.0
  val Dedup: Seq[String] = Seq("substring_dedup", "minhash_lsh_pairs", "dedup_clusters")
  val Vector: Seq[String] = Seq("knn_ivfpq_kmeans", "hybrid_rrf_ivf")
  val Text: Seq[String] = Seq("text_tfidf_topk", "text_lm_score")
  /** The ten queries, interleaved across the groups above and the
    * relational ones (skew_join, q18_approx_distinct, q03_revenue_by_nation).
    */
  val Queries: Seq[String] = Seq(
    "substring_dedup", "knn_ivfpq_kmeans", "text_tfidf_topk", "skew_join",
    "minhash_lsh_pairs", "hybrid_rrf_ivf", "text_lm_score", "q18_approx_distinct",
    "dedup_clusters", "q03_revenue_by_nation")
}
