package perfbench

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One order row. Prices are integer cents, so every check is exact. */
final case class Order(
    key: Long, cust: Long, status: String, cents: Long, micros: Long,
    priority: String, month: Int)

/** Seeded input generators. The same seed always gives the same inputs;
  * the program under test only ever sees what these produce.
  */
object Gen {
  val FirstMonth: LocalDate = LocalDate.of(1995, 1, 1)
  val Statuses: Seq[String] = Seq("O", "P", "F")
  val Priorities: Seq[String] =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def monthStart(m: Int): LocalDate = FirstMonth.plusMonths(m.toLong)

  def monthTs(m: Int): Timestamp =
    Timestamp.from(monthStart(m).atStartOfDay(ZoneOffset.UTC).toInstant)

  def randomMicros(r: SplittableRandom, m: Int): Long = {
    val d = monthStart(m)
    val day = d.plusDays(r.nextInt(d.lengthOfMonth()).toLong)
    day.atStartOfDay(ZoneOffset.UTC).toEpochSecond * 1000000L
  }

  /** `n` orders spread uniformly over `months` months starting 1995-01 —
    * the shape of TPC-H `orders` at sf0.1 (150k rows, 80 months).
    */
  def orders(seed: Long, n: Int, months: Int): Array[Order] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val m = r.nextInt(months)
      Order(i.toLong, r.nextInt(15000).toLong, Statuses(r.nextInt(3)),
        100191L + r.nextLong(49899128L), randomMicros(r, m),
        Priorities(r.nextInt(5)), m)
    }
  }

  val OrderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_price_cents", LongType, nullable = false),
    StructField("o_orderdate", TimestampType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false),
    StructField("o_month", DateType, nullable = false)))

  def orderRow(o: Order): Row = Row(o.key, o.cust, o.status, o.cents,
    new Timestamp(o.micros / 1000L), o.priority, Date.valueOf(monthStart(o.month)))

  /** An in-memory batch as a DataFrame; large batches are split across
    * the session's cores instead of riding in one local relation.
    */
  def ordersDf(spark: SparkSession, rows: Seq[Order]): DataFrame =
    if (rows.size <= 10000) {
      val list = new java.util.ArrayList[Row]()
      rows.foreach(o => list.add(orderRow(o)))
      spark.createDataFrame(list, OrderSchema)
    } else {
      val sc = spark.sparkContext
      spark.createDataFrame(sc.parallelize(rows.map(orderRow), sc.defaultParallelism),
        OrderSchema)
    }
}

/** The tables the pipeline queries read (`customer`, `orders`, `lineitem`,
  * `nation`, `documents`, `embeddings`), with the columns, value ranges
  * and row ratios of the repo's sf0.1 test data, written as parquet under
  * one directory. `scale` 1.0 is sf0.1 (600k line items, 5000 documents,
  * 2000 embeddings). Every value is a hash of the seed and the row id, so
  * the same seed writes the same tables whatever the partitioning.
  */
object PipelineGen {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** The 31 words of the test data's documents. */
  val Words: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "order", "part", "query",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window", "merge", "index", "file")
  val Langs: Seq[String] = Seq("en", "en", "en", "de", "es", "fr", "zh")
  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Dim = 64

  def write(spark: SparkSession, seed: Long, dir: String, scale: Double): Unit = {
    // a uniform double in [0, 1) per (seed, tag, row, ...)
    def u(tag: Int, cs: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(tag) +: cs): _*), lit(1000000007L)) / lit(1000000007.0)
    def int(tag: Int, n: Int, cs: Column*): Column = floor(u(tag, cs: _*) * n).cast("int")
    def pick(tag: Int, xs: Seq[String], cs: Column*): Column =
      element_at(typedLit(xs), int(tag, xs.size, cs: _*) + 1)
    def rows(n: Long) = spark.range(0, math.max(1L, n), 1, 4).toDF()
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    val customers = (15000 * scale).toLong
    val orders = (150000 * scale).toLong
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val days = java.time.LocalDate.of(2001, 8, 1).toEpochDay - day0
    def date(tag: Int, cs: Column*): Column =
      timestamp_seconds((lit(day0) + int(tag, days.toInt, cs: _*)) * 86400L)

    save(rows(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")), "nation")
    save(rows(customers).select(id.as("c_custkey"),
      concat(lit("Customer#"), id).as("c_name"), int(1, 25, id).as("c_nationkey"),
      round(u(2, id) * 10998.99 - 999.99, 2).as("c_acctbal"),
      pick(3, Segments, id).as("c_mktsegment")), "customer")
    save(rows(orders).select(id.as("o_orderkey"),
      floor(u(4, id) * customers).cast("long").as("o_custkey"),
      pick(5, Gen.Statuses, id).as("o_orderstatus"),
      round(u(6, id) * 500000 + 900, 2).as("o_totalprice"), date(7, id).as("o_orderdate"),
      pick(8, Gen.Priorities, id).as("o_orderpriority")), "orders")
    // 1..7 lines per order
    save(rows(orders)
      .select(id.as("o"), explode(sequence(lit(1), int(9, 7, id) + 1)).as("ln"))
      .select(col("o").as("l_orderkey"),
        floor(u(10, col("o"), col("ln")) * 20000 * scale).cast("long").as("l_partkey"),
        floor(u(11, col("o"), col("ln")) * 1000 * scale).cast("long").as("l_suppkey"),
        col("ln").as("l_linenumber"),
        (int(12, 50, col("o"), col("ln")) + 1).cast("double").as("l_quantity"),
        round(u(13, col("o"), col("ln")) * 104099 + 900, 2).as("l_extendedprice"),
        (int(14, 11, col("o"), col("ln")) / 100.0).as("l_discount"),
        (int(15, 9, col("o"), col("ln")) / 100.0).as("l_tax"),
        pick(16, Seq("R", "A", "N"), col("o"), col("ln")).as("l_returnflag"),
        pick(17, Seq("O", "F"), col("o"), col("ln")).as("l_linestatus"),
        date(18, col("o"), col("ln")).as("l_shipdate")), "lineitem")
    // 8..100 words per document; every 50th repeats an earlier document
    // with its first word changed, so the dedup queries find near pairs
    val words = typedLit(Words)
    def text(doc: Column): Column = concat_ws(" ", transform(
      sequence(lit(1), int(19, 93, doc) + 8),
      i => element_at(words, int(20, Words.size, doc, i) + 1)))
    val docs = (5000 * scale).toLong
    save(rows(docs)
      .withColumn("src", when(id % 50 === 49, floor(u(21, id) * id)).otherwise(id))
      .withColumn("text0", text(col("src")))
      .withColumn("text", when(col("src") =!= id,
        concat(pick(22, Words, id), regexp_extract(col("text0"), "( .*)$", 1)))
        .otherwise(col("text0")))
      .select(id.as("doc_id"), col("text"), pick(23, Langs, id).as("lang"),
        concat(lit("src"), int(24, 20, id)).as("source"),
        length(col("text")).cast("long").as("n_chars")), "documents")
    // ten clusters: a seeded centre per label plus per-row noise
    save(rows((2000 * scale).toLong)
      .withColumn("label", int(25, 10, id))
      .select(id.as("vec_id"), transform(sequence(lit(0), lit(Dim - 1)), j =>
        (u(26, col("label"), j) - 0.5 + (u(27, id, j) - 0.5) * 0.6).cast("float")).as("embedding"),
        col("label")), "embeddings")
  }
}
