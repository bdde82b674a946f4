package graft

import org.apache.spark.sql.functions._

import graft.io._

class SourceSpec extends SparkSpec {
  import spark.implicits._

  test("spark.read.format(graft) round trip, version travel, pushdown") {
    val p = tmpDir("src")
    val df = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 10).as("g"))
      .repartitionByRange(4, col("k"))
    GraftWriter.write(spark, df, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, Seq((5000L, 0L)).toDF("k", "g"), p,
      WriteOptions(mode = WriteMode.Append))

    val r = spark.read.format("graft").load(p)
    assert(r.count() == 1001)
    assert(r.schema.fieldNames.toSeq == Seq("k", "g"))

    val v0 = spark.read.format("graft").option("versionAsOf", 0).load(p)
    assert(v0.count() == 1000)

    // filter + projection through the source: values correct
    val sel = r.filter(col("k") >= 900 && col("k") < 950).select("k")
    assert(sel.as[Long].collect().sorted.toSeq == (900L until 950L))

    // SQL over the source works too
    r.createOrReplaceTempView("graft_src")
    assert(spark.sql("SELECT count(*) FROM graft_src WHERE k < 10").first().getLong(0) == 10)
  }

  test("timestampAsOf / startingTimestamp resolve against commit wall clocks") {
    val p = tmpDir("src_ts")
    GraftWriter.write(spark, Seq((1L, "a")).toDF("k", "s"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val t0 = GraftTable(spark, p).log.readCommit(0L).timestampMs
    Thread.sleep(1100) // commit clocks are millisecond wall time
    GraftWriter.write(spark, Seq((2L, "b")).toDF("k", "s"), p,
      WriteOptions(mode = WriteMode.Append))

    // a timestamp between the commits reads v0
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    def fmt(ms: Long): String = java.time.LocalDateTime
      .ofInstant(java.time.Instant.ofEpochMilli(ms), zone)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val between = fmt(t0 + 500)
    assert(spark.read.format("graft")
      .option("timestampAsOf", between).load(p).count() == 1)

    // CDF from the same timestamp starts at the FIRST commit at/after it
    val changes = spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", between).load(p)
    assert(changes.select("k").as[Long].collect().toSeq == Seq(2L))

    // both-options and unparseable timestamps fail loudly
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 0)
        .option("timestampAsOf", between).load(p)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("timestampAsOf", "not-a-time").load(p)
    }
  }

  test("format(graft) reads are native columnar parquet scans (no RDD boundary)") {
    val p = tmpDir("srcn")
    GraftWriter.write(spark, spark.range(0, 100)
      .select(col("id").as("k"), (col("id") * 2).as("v")), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val df = spark.read.format("graft").load(p).filter(col("k") >= 10).select("v")
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("DeserializeToObject"),
      s"row-deserialization boundary in plan:\n$physical")
    assert(physical.contains("FileScan parquet"),
      s"expected a native parquet scan in plan:\n$physical")
    assert(physical.contains("Batched: true"),
      s"expected a vectorized (columnar-batch) scan in plan:\n$physical")
    assert(physical.contains("*("), // WholeStageCodegen stage marker
      s"expected whole-stage codegen in plan:\n$physical")
    // pushdown reaches the scan
    assert(physical.contains("PushedFilters: [IsNotNull(k), GreaterThanOrEqual(k,10)]")
      || physical.contains("GreaterThanOrEqual(k,10)"),
      s"filter not pushed to the scan:\n$physical")
    assert(df.as[Long].collect().sorted.toSeq == (10L until 100L).map(_ * 2))
  }

  test("SQL DDL surface: CREATE TABLE ... USING graft") {
    val p = tmpDir("srcsql")
    GraftWriter.write(spark, spark.range(0, 50)
      .select(col("id").as("k"), (col("id") % 5).as("g")), p,
      WriteOptions(mode = WriteMode.Overwrite))
    spark.sql(s"CREATE TABLE graft_ddl USING graft OPTIONS (path '$p')")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_ddl").first().getLong(0) == 50)
      val agg = spark.sql(
        "SELECT g, count(*) AS n FROM graft_ddl GROUP BY g ORDER BY g")
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        (0L until 5L).map(g => (g, 10L)))
      // the catalog table also goes through the native substitution
      val physical = spark.table("graft_ddl").queryExecution.executedPlan.toString
      assert(physical.contains("FileScan parquet"), s"plan:\n$physical")
    } finally spark.sql("DROP TABLE graft_ddl")
  }

  test("format(graft) reads empty tables correctly") {
    val p = tmpDir("srce")
    GraftWriter.write(spark, spark.range(0).select(col("id").as("k")), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val r = spark.read.format("graft").load(p)
    assert(r.count() == 0)
    assert(r.schema.fieldNames.toSeq == Seq("k"))
  }

  test("commit-log file index: zero-listing scan with stats skipping in the SQL path") {
    val p = tmpDir("srcskip")
    // 8 range-clustered files => disjoint k intervals in footer stats
    GraftWriter.write(spark, spark.range(0, 4000)
      .select(col("id").as("k"), col("id").as("v"))
      .repartitionByRange(8, col("k")), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val df = spark.read.format("graft").load(p).filter(col("k") === 1234L)
    assert(df.collect().map(_.getLong(1)).toSeq == Seq(1234L))
    // the GraftFileIndex handed only stat-overlapping files to the scan
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    // the commit-log index plans the scan (possibly behind the stats pin
    // GraftScanStats adds for the pushed k=1234 filter)
    assert(scan.relation.location match {
      case _: graft.sources.GraftFileIndex => true
      case p: graft.sources.PinnedSizeFileIndex =>
        p.underlying.isInstanceOf[graft.sources.GraftFileIndex]
      case _ => false
    }, s"unexpected file index: ${scan.relation.location}")
    assert(scan.metrics("numFiles").value == 1L,
      s"expected stats skipping to 1 file, read ${scan.metrics("numFiles").value}")
  }

  test("file index prunes multi-dimensional hive partitions in the SQL path") {
    val p = tmpDir("srcpart")
    val df = spark.range(0, 120).select(
      col("id").as("k"),
      (col("id") % 3).cast("string").as("pa"),
      (col("id") % 2).cast("long").as("pb"))
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pa", "pb")))
    val t = GraftTable(spark, p)
    assert(t.snapshot().files.size == 6) // 3 x 2 partitions
    val q = spark.read.format("graft").load(p)
      .filter(col("pa") === "1" && col("pb") === 0L)
    assert(q.collect().length == 20) // executes q's own plan instance
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metrics("numFiles").value == 1L,
      s"partition pruning should reach 1 of 6 files, plan:\n$scan")
  }

  test("source handles unpushable filters as residuals") {
    val p = tmpDir("srcr")
    GraftWriter.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, null.asInstanceOf[String])).toDF("k", "s"),
      p, WriteOptions(mode = WriteMode.Overwrite))
    val r = spark.read.format("graft").load(p)
    assert(r.filter(col("s").isNull).count() == 1)
    assert(r.filter(col("s").isin("a", "b")).count() == 2)
    assert(r.filter(col("k") === 2 || col("s") === "a").count() == 2)
  }

  test("the V1 relation's buildScan serves pushed filters on a date-partitioned table with a deletion vector") {
    import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNull}
    val p = tmpDir("v1_scan") + "/t"
    val (d1, d2) = (java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-02"))
    GraftWriter.write(spark,
      Seq((1L, Some(d1)), (2L, Some(d1)), (3L, Some(d2)), (4L, Some(d2)),
        (5L, None), (6L, None)).toDF("k", "d"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("d"),
        metadata = Map(DeletionVectors.PropKey -> "true")))
    graft.merge.Dml.delete(spark, p, col("k") === 2L || col("k") === 5L)
    assert(GraftTable(spark, p).snapshot().files.exists(_.dv.isDefined))

    val rel = graft.sources.GraftRelation(spark.sqlContext, p, None)
    def rows(it: Iterable[org.apache.spark.sql.Row]): Set[(Long, Option[java.sql.Date])] =
      it.map(r => (r.getLong(0), Option(r.getDate(1)))).toSet
    val cases: Seq[(Filter, org.apache.spark.sql.Column)] = Seq(
      EqualTo("d", d1) -> (col("d") === d1),
      In("d", Array(d1, d2)) -> col("d").isin(d1, d2),
      IsNull("d") -> col("d").isNull)
    for ((pushed, same) <- cases) {
      val got = rows(rel.buildScan(Array("k", "d"), Array(pushed)).collect())
      val want = rows(GraftTable(spark, p).toDf().filter(same).select("k", "d").collect())
      assert(got == want, pushed)
      assert(want.nonEmpty && !want.exists(r => r._1 == 2L || r._1 == 5L), pushed)
    }
  }
}
