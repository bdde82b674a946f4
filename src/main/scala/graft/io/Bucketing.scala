package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-bucketed table layout — the co-location primitive Spark's
  * catalog `bucketBy` provides, rebuilt on the graft commit log (no
  * catalog available): rows land in `pmod(hash(key), n)` bucket
  * directories, the spec is recorded in commit metadata, and two tables
  * bucketed the same way can be joined bucket-by-bucket.
  *
  * What this buys at 100 TB:
  *   - **point lookups**: an equality probe on the bucket key reads
  *     1/n of the files (driver-side pruning, no file IO);
  *   - **bucket-wise joins**: each sub-join sees only its bucket's rows,
  *     so the shuffle (or broadcast) is per-bucket — co-partitioned
  *     inputs never meet in one giant exchange;
  *   - combined with per-file min/max skipping inside each bucket.
  */
object Bucketing {

  val BucketCol = "__bucket"
  private val KeyMeta = "bucket_column"
  private val CountMeta = "bucket_count"

  /** Write `df` bucketed by `key` into `n` buckets (layered under any
    * `partitionBy` the options carry). The bucket column materializes as
    * a visible derived partition column (`__bucket`); the read helpers
    * below drop it.
    */
  def write(
      spark: SparkSession,
      df: DataFrame,
      path: String,
      key: String,
      n: Int,
      opts: WriteOptions = WriteOptions(mode = WriteMode.Overwrite)): Long = {
    require(n > 0, "bucket count must be positive")
    val bucketed = df.withColumn(BucketCol, pmod(hash(col(key)), lit(n)))
    GraftWriter.write(spark, bucketed, path, opts.copy(
      partitionBy = opts.partitionBy :+ BucketCol,
      metadata = opts.metadata ++ Map(KeyMeta -> key, CountMeta -> n.toString)))
  }

  /** The table's bucket spec (key column, bucket count) at `snap`, if
    * bucketed there. A snapshot not partitioned by [[BucketCol]] is not
    * bucketed (never was, or was replaced without bucketing) and answers
    * from its partition columns alone. Otherwise the search reads the
    * commits at or below `snap`'s version newest-first, one at a time,
    * and stops at the first commit carrying the spec: intervening commits
    * without bucket metadata (OPTIMIZE, coordinated promotes) don't hide
    * it, and a table bucketed at its head version pays for a few commits,
    * not the whole history.
    */
  def spec(table: GraftTable, snap: graft.log.Snapshot): Option[(String, Int)] =
    if (!snap.partitionColumns.contains(BucketCol)) None
    else {
      val log = table.log
      log.versions().reverseIterator.filter(_ <= snap.version).map { v =>
        val m = log.readCommit(v).metadata
        for {
          k <- m.get(KeyMeta)
          n <- m.get(CountMeta)
        } yield (k, n.toInt)
      }.collectFirst { case Some(s) => s }
    }

  /** The bucket spec at the table's latest snapshot. */
  def spec(table: GraftTable): Option[(String, Int)] = spec(table, table.snapshot())

  /** Bucket id of a literal value (must match the write-side hash). The
    * `pmod(murmur3(v), n)` expression is evaluated directly on the driver
    * — identical semantics to the write-side `hash()` column (same
    * Murmur3Hash expression, seed 42), without launching a Spark job per
    * point lookup.
    */
  def bucketOf(spark: SparkSession, value: Any, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(Murmur3Hash(Seq(Literal(value)), 42), Literal(n))
      .eval(null).asInstanceOf[Int]
  }

  /** Equality point-lookup reading only the matching bucket's files. */
  def lookup(table: GraftTable, value: Any): DataFrame = {
    val snap = table.snapshot()
    val (key, n) = spec(table, snap).getOrElse(
      throw new IllegalArgumentException(s"${table.path} is not bucketed"))
    val b = bucketOf(table.spark, value, n).toString
    val files = snap.files.filter(_.partitionValues.get(BucketCol).contains(b))
    table.dfForFiles(snap, files).filter(col(key) === lit(value))
      .drop(BucketCol)
  }

  /** Number of files a lookup would read (tests/diagnostics). */
  def filesForLookup(table: GraftTable, value: Any): Int = {
    val snap = table.snapshot()
    val (_, n) = spec(table, snap).getOrElse(return snap.files.size)
    val b = bucketOf(table.spark, value, n).toString
    snap.files.count(_.partitionValues.get(BucketCol).contains(b))
  }

  /** Equi-join of two tables bucketed identically on their join keys, as
    * ONE join over the native graft relations. Because the scans report
    * the bucket layout as a real BucketSpec (see
    * [[graft.sources.GraftNativeRelation]]), each side's
    * outputPartitioning is `HashPartitioning(key, n)` and Catalyst itself
    * elides both Exchanges — co-partitioned inputs never shuffle,
    * and the plan is O(1) in the bucket count (the previous
    * union-of-per-bucket-joins grew the plan linearly with n, blowing up
    * Catalyst planning around n ≥ 256). Key columns may differ in name
    * (e.g. `o_orderkey` = `l_orderkey`); bucket count and hash must
    * match (enforced).
    */
  def join(
      left: GraftTable,
      right: GraftTable,
      how: String = "inner"): DataFrame = {
    val (lk, ln) = spec(left).getOrElse(
      throw new IllegalArgumentException(s"${left.path} is not bucketed"))
    val (rk, rn) = spec(right).getOrElse(
      throw new IllegalArgumentException(s"${right.path} is not bucketed"))
    require(ln == rn, s"bucket counts differ: $ln vs $rn")
    val spark = left.spark
    val l = spark.read.format("graft").load(left.path).drop(BucketCol)
    val r = spark.read.format("graft").load(right.path).drop(BucketCol)
    l.join(r, col(lk) === col(rk), how)
  }
}
