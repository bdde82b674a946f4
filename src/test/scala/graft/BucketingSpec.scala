package graft

import org.apache.spark.sql.functions._

import graft.io._

class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bucketed write records spec; point lookup reads one bucket") {
    val p = tmpDir("bkt")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    Bucketing.write(spark, orders, p, "o_orderkey", 8)
    val t = GraftTable(spark, p)
    assert(Bucketing.spec(t).contains(("o_orderkey", 8)))
    val total = t.snapshot().files.size
    assert(total >= 8)
    assert(Bucketing.filesForLookup(t, 42L) <= total / 4)
    val row = Bucketing.lookup(t, 42L)
    assert(row.count() == 1)
    assert(!row.columns.contains(Bucketing.BucketCol))
    assert(row.first().getAs[Long]("o_orderkey") == 42L)
  }

  test("bucket-wise join equals plain join (inner and left)") {
    val po = tmpDir("bko")
    val pl = tmpDir("bkl")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    Bucketing.write(spark, orders, po, "o_orderkey", 8)
    Bucketing.write(spark, lineitem, pl, "l_orderkey", 8)
    val to = GraftTable(spark, po)
    val tl = GraftTable(spark, pl)

    val bucketed = Bucketing.join(to, tl)
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    val plain = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))
    assert(bucketed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == plain.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)

    // left join: orders with no lineitems survive with nulls
    val bl = Bucketing.join(to, tl, "left")
    val pj = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"), "left")
    assert(bl.count() == pj.count())
    assert(bl.filter(col("l_orderkey").isNull).count()
      == pj.filter(col("l_orderkey").isNull).count())

    // the co-bucketed join plans with NO Exchange on either side: both
    // scans report HashPartitioning(key, 8) from the BucketSpec. On this
    // tiny data Spark rightly prefers broadcast, so force the
    // large-large (sort-merge) path to observe the property that matters
    // at scale.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val joinPlan = Bucketing.join(to, tl).queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$joinPlan")
      assert(joinPlan.contains("SelectedBucketsCount"),
        s"expected bucketed scans:\n$joinPlan")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("bucket spec and bucketed scan survive OPTIMIZE compaction") {
    val p = tmpDir("bkopt")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    // two bucketed appends => multiple files per bucket, then compact
    Bucketing.write(spark, orders.filter(col("o_orderkey") % 2 === 0), p, "o_orderkey", 4)
    Bucketing.write(spark, orders.filter(col("o_orderkey") % 2 === 1), p, "o_orderkey", 4,
      WriteOptions(mode = WriteMode.Append))
    GraftWriter.optimize(spark, p)
    val t = GraftTable(spark, p)
    // the OPTIMIZE commit carries no bucket metadata, but history search finds it
    assert(Bucketing.spec(t).contains(("o_orderkey", 4)))
    assert(Bucketing.lookup(t, 42L).count() == 1)
    // compacted files still carry parseable bucket ids => native scan keeps BucketSpec
    val plan = spark.read.format("graft").load(p)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: "), s"expected a bucket-aware scan:\n$plan")
  }

  test("a table replaced without bucketing plans plain scans") {
    val p = tmpDir("bkreplace")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    Bucketing.write(spark, orders, p, "o_orderkey", 4)
    val plain = orders.filter(col("o_orderkey") < 200)
      .withColumn("part", col("o_orderkey") % 3)
    GraftWriter.write(spark, plain, p,
      WriteOptions(mode = WriteMode.CreateOrReplace, partitionBy = Seq("part")))
    val t = GraftTable(spark, p)
    assert(t.snapshot().partitionColumns == Seq("part"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("o_orderkey", "o_custkey").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = rows(plain)
    val slice = graft.core.TableSlice("s", "t",
      Seq(graft.core.StaticDimension("part", Seq("1"))))
    Seq(
      "toDf" -> t.toDf(),
      "scan" -> t.scan(slice),
      "format(graft)" -> spark.read.format("graft").load(p)).foreach { case (how, df) =>
      // an aggregate on the old bucket key is where a stale BucketSpec
      // would turn the scan bucketed
      val grouped = df.groupBy("o_orderkey").count()
      val plan = grouped.queryExecution.executedPlan.toString
      assert(!plan.contains("SelectedBucketsCount"), s"$how plans a bucketed scan:\n$plan")
      val expected = if (how == "scan") want.filter(_._1 % 3 == 1) else want
      assert(rows(df) == expected, how)
      assert(grouped.count() == expected.size, how)
    }
    // re-bucketed with another count: each version keeps its own layout
    Bucketing.write(spark, orders, p, "o_orderkey", 8,
      WriteOptions(mode = WriteMode.CreateOrReplace))
    def bucketsAt(v: Long): Option[Int] =
      graft.sources.GraftNativeRelation.bucketSpecOf(t, t.snapshot(Some(v))).map(_.numBuckets)
    assert(bucketsAt(0L).contains(4) && bucketsAt(1L).isEmpty && bucketsAt(2L).contains(8))
    assert(rows(t.toDf(Some(1L))) == want)
    assert(t.toDf(Some(0L)).count() == orders.count())
  }

  test("a table replaced without bucketing has no bucket spec, so its old key renames") {
    val p = tmpDir("bkrename")
    val df = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    Bucketing.write(spark, df, p, "k", 4)
    GraftWriter.write(spark, df, p, WriteOptions(mode = WriteMode.CreateOrReplace))
    val t = GraftTable(spark, p)
    assert(Bucketing.spec(t).isEmpty)
    assert(Bucketing.spec(t, t.snapshot(Some(0L))).contains(("k", 4)))
    Alter.alter(spark, p, renameCols = Seq("k" -> "k2"))
    assert(GraftTable(spark, p).toDf().select("k2").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("mismatched bucket counts are rejected") {
    val pa = tmpDir("bka")
    val pb = tmpDir("bkb")
    val df = Seq((1L, "x")).toDF("k", "v")
    Bucketing.write(spark, df, pa, "k", 4)
    Bucketing.write(spark, df.toDF("k2", "v2"), pb, "k2", 8)
    intercept[IllegalArgumentException] {
      Bucketing.join(GraftTable(spark, pa), GraftTable(spark, pb))
    }
  }

  test("writeStream.toTable keeps the bucket layout and exchange-free joins") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = tmpDir("bkstream_root")
    spark.conf.set("spark.sql.catalog.bkcat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.bkcat.root", root)
    new java.io.File(s"$root/ns").mkdirs()
    val po = s"$root/ns/orders"
    val pl = tmpDir("bkstream_l")
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val lineitem = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    Bucketing.write(spark, orders.filter(col("o_orderkey") % 2 === 0), po, "o_orderkey", 8)
    Bucketing.write(spark, lineitem, pl, "l_orderkey", 8)

    // supplying the derived __bucket column is rejected up front
    val memBad = MemoryStream[(Long, Long, Int)]
    memBad.addData((-1L, 0L, 0))
    val qBad = intercept[Exception] {
      val q = memBad.toDF().toDF("o_orderkey", "o_custkey", Bucketing.BucketCol)
        .writeStream
        .option("checkpointLocation", tmpDir("bkstream_ckbad"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("bkcat.ns.orders")
      q.awaitTermination()
    }
    assert(qBad.toString.contains("derived"), qBad.toString)

    // stream-append the rest of orders WITHOUT the bucket column: the
    // writer derives pmod(hash(key), 8) per row
    val mem = MemoryStream[(Long, Long)]
    val rest = orders.filter(col("o_orderkey") % 2 === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    mem.addData(rest.toIndexedSeq: _*)
    val q = mem.toDF().toDF("o_orderkey", "o_custkey").writeStream
      .option("checkpointLocation", tmpDir("bkstream_ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("bkcat.ns.orders")
    q.awaitTermination()

    val to = GraftTable(spark, po)
    val tl = GraftTable(spark, pl)
    // nothing lost, and every streamed file carries a real bucket id in
    // both the partition value and the `_NNNNN` file-name suffix
    assert(to.toDf().count() == orders.count())
    val snap = to.snapshot()
    assert(snap.files.forall(f => f.partitionValues.contains(Bucketing.BucketCol)))
    assert(snap.files.forall(f =>
      graft.sources.GraftNativeRelation.bucketIdFromName(f.path) ==
        f.partitionValues.get(Bucketing.BucketCol).map(_.toInt)))
    // streamed rows landed in the CORRECT bucket (batch hash semantics):
    // a point lookup that prunes to one bucket still finds a streamed key
    val streamedKey = rest.head._1
    assert(Bucketing.lookup(to, streamedKey).count() == 1)
    assert(Bucketing.filesForLookup(to, streamedKey) < snap.files.size)
    // the co-bucketed join STILL plans with zero Exchange after the
    // streamed append (mirror of the q20_bucket_join assertion)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val joined = Bucketing.join(to, tl)
      val joinPlan = joined.queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange"),
        s"co-bucketed join must not shuffle after a streamed append:\n$joinPlan")
      assert(joinPlan.contains("SelectedBucketsCount"),
        s"expected bucketed scans:\n$joinPlan")
      // and the join result matches the plain (shuffled) join
      val expected = orders.join(lineitem,
        col("o_orderkey") === col("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set(thresholdKey, prev)
  }
}
