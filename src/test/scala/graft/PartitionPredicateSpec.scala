package graft

import java.sql.{Date, Timestamp}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExecutionRecorder
import org.apache.spark.sql.types._

import graft.io._
import graft.merge.{MergeConfig, MergeExecutor, MergeType}

/** The driver-side partition-predicate evaluator and its callers:
  * replaceWhere overwrites, OPTIMIZE ... WHERE and partition-scoped
  * merges.
  */
class PartitionPredicateSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val typedSchema = StructType(Seq(
    StructField("v", LongType),
    StructField("i", IntegerType),
    StructField("s", StringType),
    StructField("d", DateType),
    StructField("t", TimestampType)))

  test("kept files are exactly the files holding a row Spark's own filter selects") {
    val p = tmpDir("pp_oracle") + "/t"
    val is = Seq[Integer](1, 2, 3, null)
    val ss = Seq("a", "b", null)
    val ds = Seq(Date.valueOf("2024-01-01"), Date.valueOf("2024-02-01"), null)
    val tss = Seq(ts("2024-01-02 03:04:05"), ts("2024-03-04 00:00:00"), null)
    val data = (0 until 36).map { n =>
      org.apache.spark.sql.Row(n.toLong, is(n % 4), ss(n % 3), ds((n / 3) % 3), tss((n / 2) % 3))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), typedSchema)
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("i", "s", "d", "t")))
    // a second append puts several files in some partitions
    GraftWriter.write(spark, df.filter(col("v") < 12), p,
      WriteOptions(mode = WriteMode.Append))
    val snap = GraftTable(spark, p).snapshot()
    assert(snap.files.exists(_.partitionValues.values.exists(
      _ == org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME)))

    // Spark's own reader of the hive layout types the partition values
    // from the given schema; every table file is live (no removals)
    val plain = spark.read.schema(typedSchema).parquet(p)
    def norm(s: String): String = new Path(new java.net.URI(s)).toUri.getPath
    val live = snap.files.map(f => norm(new Path(p, f.path).toUri.toString) -> f.path).toMap
    val preds: Seq[Column] = Seq(
      col("i") === 2,
      col("s") <=> lit(null).cast("string"),
      col("s") <=> "a",
      col("i").isin(1, 3),
      col("d").isNull,
      !(col("s") === "a"),
      col("i") === 2 || col("s").isNull,
      col("t") === lit(ts("2024-01-02 03:04:05")),
      col("t") < lit(ts("2024-03-01 00:00:00")) && col("d").isNotNull,
      col("d").cast("string") === "2024-02-01",
      col("i").cast("string") === "3" || col("t").isNull)
    preds.foreach { pred =>
      val want = plain.filter(pred).select(input_file_name()).distinct()
        .as[String].collect().map(s => live(norm(s))).toSet
      val got = PartitionPredicate.files(spark, snap, pred).map(_.path).toSet
      assert(got == want, s"$pred")
      assert(got.nonEmpty && got.size < snap.files.size, s"$pred selects a proper subset")
    }
  }

  test("replaceWhere IS NULL replaces the NULL partition of a string-partitioned table") {
    val p = tmpDir("pp_isnull") + "/t"
    val schema = StructType(Seq(StructField("p", StringType), StructField("v", IntegerType)))
    def rows(rs: (String, Int)*): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (a, b) => org.apache.spark.sql.Row(a, b) }), schema)
    GraftWriter.write(spark, rows(("a", 1), (null, 2)), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p")))
    GraftWriter.write(spark, rows((null, 20)), p,
      WriteOptions(mode = WriteMode.Overwrite, replaceWhere = Some(col("p").isNull)))
    val back = GraftTable(spark, p).toDf().collect()
      .map(r => (Option(r.getAs[String]("p")), r.getAs[Int]("v"))).toSet
    assert(back == Set((Some("a"), 1), (None, 20)))
  }

  test("an int-partitioned table with a NULL partition serves replaceWhere, OPTIMIZE WHERE and a scoped merge") {
    val p = tmpDir("pp_intnull") + "/t"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("p", IntegerType), StructField("v", LongType)))
    def rows(rs: (Long, Integer, Long)*): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (a, b, c) => org.apache.spark.sql.Row(a, b, c) }),
      schema)
    GraftWriter.write(spark, rows((1L, 1, 10L), (2L, 2, 20L), (3L, null, 30L)), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p")))
    GraftWriter.write(spark, rows((4L, 1, 40L)), p, WriteOptions(mode = WriteMode.Append))
    def state(): Set[(Long, Option[Int], Long)] = GraftTable(spark, p).toDf().collect()
      .map(r => (r.getAs[Long]("k"), Option(r.getAs[Integer]("p")).map(_.intValue),
        r.getAs[Long]("v"))).toSet

    GraftWriter.write(spark, rows((5L, 2, 50L)), p,
      WriteOptions(mode = WriteMode.Overwrite, replaceWhere = Some(col("p") === 2)))
    assert(state() == Set((1L, Some(1), 10L), (4L, Some(1), 40L), (5L, Some(2), 50L),
      (3L, None, 30L)))

    val before = GraftTable(spark, p).snapshot().files
    GraftWriter.optimize(spark, p, where = Some(col("p") === 1))
    val after = GraftTable(spark, p).snapshot().files
    assert(after.count(_.partitionValues("p") == "1") == 1)
    assert(before.filterNot(_.partitionValues("p") == "1").toSet
      == after.filterNot(_.partitionValues("p") == "1").toSet)

    MergeExecutor.merge(spark, rows((1L, 1, 11L), (6L, 1, 60L)), p,
      MergeConfig(MergeType.Upsert, "s.k = t.k", partitionFilter = Some(col("p") === 1)))
    assert(state() == Set((1L, Some(1), 11L), (4L, Some(1), 40L), (6L, Some(1), 60L),
      (5L, Some(2), 50L), (3L, None, 30L)))
  }

  test("a replaceWhere naming a data column, non-deterministic or with a subquery fails and changes nothing") {
    val p = tmpDir("pp_reject") + "/t"
    GraftWriter.write(spark, Seq(("a", 1L), ("b", 2L)).toDF("p", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p")))
    val v0 = GraftTable(spark, p).version()
    val dataCol = intercept[IllegalArgumentException] {
      GraftWriter.write(spark, Seq(("a", 9L)).toDF("p", "v"), p,
        WriteOptions(mode = WriteMode.Overwrite, replaceWhere = Some(col("v") === 9L)))
    }
    assert(dataCol.getMessage.contains("non-partition column"), dataCol.getMessage)
    val random = intercept[IllegalArgumentException] {
      GraftWriter.write(spark, Seq(("a", 9L)).toDF("p", "v"), p,
        WriteOptions(mode = WriteMode.Overwrite,
          replaceWhere = Some(col("p") === "a" && rand() < 0.5)))
    }
    assert(random.getMessage.contains("deterministic"), random.getMessage)
    val subquery = intercept[IllegalArgumentException] {
      GraftWriter.write(spark, Seq(("a", 9L)).toDF("p", "v"), p,
        WriteOptions(mode = WriteMode.Overwrite, replaceWhere = Some(col("p") === Seq("a").toDF("x").scalar())))
    }
    assert(subquery.getMessage.contains("subquery-free"), subquery.getMessage)
    assert(GraftTable(spark, p).version() == v0)
  }

  test("scoping a write, an OPTIMIZE or a merge runs no SQL execution of its own") {
    val p = tmpDir("pp_execs") + "/t"
    GraftWriter.write(spark, (0L until 8L).map(k => (k, (k % 2).toInt)).toDF("k", "p"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p")))
    // the write alone: it checks the replaceWhere on the rows it writes
    val (_, overwrite) = ExecutionRecorder.record(spark) {
      GraftWriter.write(spark, Seq((10L, 1)).toDF("k", "p"), p,
        WriteOptions(mode = WriteMode.Overwrite, replaceWhere = Some(col("p") === 1)))
    }
    assert(overwrite.size == 1, overwrite.map(_.logical.nodeName).mkString(", "))
    // partition 1 holds one file, so the scoped OPTIMIZE has nothing to do
    val (_, optimize) = ExecutionRecorder.record(spark) {
      GraftWriter.optimize(spark, p, where = Some(col("p") === 1))
    }
    assert(optimize.isEmpty, optimize.map(_.logical.nodeName).mkString(", "))
    // a scoped merge runs exactly the executions of the same unscoped one
    val q = tmpDir("pp_execs") + "/u"
    GraftWriter.write(spark, GraftTable(spark, p).toDf(), q,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p")))
    val src = Seq((3L, 1), (11L, 1)).toDF("k", "p")
    val (_, scoped) = ExecutionRecorder.record(spark) {
      MergeExecutor.merge(spark, src, p,
        MergeConfig(MergeType.Upsert, "s.k = t.k", partitionFilter = Some(col("p") === 1)))
    }
    val (_, unscoped) = ExecutionRecorder.record(spark) {
      MergeExecutor.merge(spark, src, q, MergeConfig(MergeType.Upsert, "s.k = t.k"))
    }
    assert(scoped.size == unscoped.size,
      s"scoped: ${scoped.map(_.logical.nodeName)}; unscoped: ${unscoped.map(_.logical.nodeName)}")
  }

  test("escaped partition directory values round-trip through the log and the reader") {
    val p = tmpDir("pp_escape") + "/t"
    val values = Seq("a+b", "x y", "c%2Bd", "k=v", "é")
    val df = values.zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("p", "v")
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p")))
    val t = GraftTable(spark, p)
    assert(t.snapshot().files.map(_.partitionValues("p")).toSet == values.toSet)
    def read(): Set[(String, Long)] = spark.read.format("graft").load(p)
      .select("p", "v").as[(String, Long)].collect().toSet
    assert(read() == values.zipWithIndex.map { case (s, i) => (s, i.toLong) }.toSet)
    GraftWriter.write(spark, Seq(("a+b", 100L)).toDF("p", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite, replaceWhere = Some(col("p") === "a+b")))
    assert(read() == values.zipWithIndex.map {
      case ("a+b", _) => ("a+b", 100L)
      case (s, i)     => (s, i.toLong)
    }.toSet)
  }

  test("pruned listings, replaceWhere removal sets and file matchers compile no class per literal") {
    import java.time.{Instant, LocalDate}
    import org.apache.spark.sql.graft.CodegenCount
    import graft.log.{AddFile, CommitLog}
    import graft.sources.GraftFileIndex
    val p = tmpDir("pp_codegen") + "/t"
    // a metadata-only table, one file per k: the listings never open a
    // data file. Literals of these four types are inlined by generated
    // code, so a compiled predicate would be a new class per value.
    val n = 20
    def values(k: Int): Map[String, Any] = Map(
      "i" -> (7300 + k),
      "l" -> (7300000000L + k),
      "d" -> LocalDate.of(2037, 3, 1).plusDays(k),
      "t" -> Instant.parse("2037-03-01T00:00:00Z").plusSeconds(97L * k + 13))
    def logValue(v: Any): String = v match {
      case t: Instant => t.toString.replace("T", " ").stripSuffix("Z")
      case other      => other.toString
    }
    val files = (0 to n).map { k =>
      AddFile(s"part-$k.parquet", values(k).map { case (c, v) => c -> logValue(v) },
        1024L, 10L, 1L)
    }
    new CommitLog(p, spark.sessionState.newHadoopConf()).commit("WRITE", "Append",
      "v BIGINT, i INT, l BIGINT, d DATE, t TIMESTAMP", Seq("i", "l", "d", "t"),
      Map.empty, Map.empty, files, Nil)
    val snap = GraftTable(spark, p).snapshot()
    val idx = new GraftFileIndex(spark, p, snap)
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    // every path on every column finds exactly file k
    def round(k: Int): Unit = Seq("i", "l", "d", "t").foreach { c =>
      val pred = col(c) === lit(values(k)(c))
      val cond = PartitionPredicate.analyze(spark, snap.schema, pred)
      val listed = idx.listFiles(Seq(cond), Nil).flatMap(_.files).map(_.getPath.getName)
      assert(listed == Seq(s"part-$k.parquet"), s"listing $pred")
      assert(PartitionPredicate.files(spark, snap, pred).map(_.path) == Seq(s"part-$k.parquet"),
        s"removal set $pred")
      val matches = DataSkipping.fileMatcher(snap, zone, Seq(cond))
      assert(snap.files.filter(matches).map(_.path) == Seq(s"part-$k.parquet"), s"matcher $pred")
    }
    round(n) // one-time set-up of the paths is not what this pins
    val (_, compiled) = CodegenCount.compiles((0 until n).foreach(round))
    assert(compiled == 0, s"$compiled classes compiled for ${4 * n} new partition literals")
  }

  test("pruned listings keep exactly the files Spark's own filter selects, per partition and per file") {
    import graft.log.CommitLog
    import graft.sources.GraftFileIndex
    val p = tmpDir("pp_matrix") + "/t"
    val schema = StructType(Seq(
      StructField("v", LongType), StructField("s", StringType), StructField("i", IntegerType)))
    val ss = Seq("a+b", "x y", "c%2Bd", "k=v", "é", "日本", null)
    val is = Seq[Integer](1, 2, 3, null)
    val data = (0 until 56).map(n => org.apache.spark.sql.Row(n.toLong, ss(n % 7), is(n % 4)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    GraftWriter.write(spark, df, p, WriteOptions(mode = WriteMode.Overwrite,
      partitionBy = Seq("s", "i"), metadata = Map(CommitLog.RowTrackingKey -> "true")))
    // a second append puts several files in some partitions
    GraftWriter.write(spark, df.filter(col("v") < 20), p, WriteOptions(mode = WriteMode.Append))
    val snap = GraftTable(spark, p).snapshot()
    assert(snap.files.forall(_.baseRowId.isDefined))

    val plain = spark.read.schema(schema).parquet(p)
    def norm(s: String): String = new Path(new java.net.URI(s)).toUri.getPath
    val live = snap.files.map(f => norm(new Path(p, f.path).toUri.toString) -> f).toMap
    val preds: Seq[Column] = Seq(
      col("s").isNull,
      col("i").isNull && col("s").isNotNull,
      col("s").isin("é", "日本", "x y"),
      col("i").isin(1, 3),
      col("i").cast("string") === "2",
      col("s") === "c%2Bd" || col("i").isNull,
      col("s") > "k",
      upper(col("s")) === "É",
      col("s") <=> lit(null).cast("string") && col("i") === 1)
    Seq(false, true).foreach { perFile =>
      val idx = new GraftFileIndex(spark, p, snap, withBaseRowIdCol = perFile)
      preds.foreach { pred =>
        val want = plain.filter(pred).select(input_file_name()).distinct()
          .as[String].collect().map(s => live(norm(s))).toSet
        val dirs = idx.listFiles(
          Seq(PartitionPredicate.analyze(spark, idx.partitionSchema, pred)), Nil)
        val got = dirs.flatMap(_.files).map(f => live(norm(f.getPath.toUri.toString))).toSet
        assert(got == want, s"$pred (per file: $perFile)")
        assert(got.nonEmpty && got.size < snap.files.size, s"$pred selects a proper subset")
        // per-file rows: one file each, whose row holds its own base row id
        if (perFile) dirs.foreach { d =>
          assert(d.files.length == 1)
          val f = live(norm(d.files.head.getPath.toUri.toString))
          assert(d.values.getLong(2) == f.baseRowId.get, s"$pred: ${f.path}")
        }
      }
    }
  }
}
