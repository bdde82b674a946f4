package graft

import org.apache.spark.sql.functions._

import graft.core._
import graft.io._

/** Failure-mode contracts: errors must be early, specific, and never
  * corrupt table state.
  */
class NegativePathSpec extends SparkSpec {
  import spark.implicits._

  private def abDf = Seq((1L, 4L)).toDF("a", "b")

  test("merge with source missing target columns errors clearly") {
    import graft.merge._
    val p = tmpDir("nmc")
    GraftWriter.write(spark, Seq((1L, "x", 9L)).toDF("k", "v", "w"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val e = intercept[IllegalArgumentException] {
      MergeExecutor.merge(spark, Seq((1L, "y")).toDF("k", "v"), p,
        MergeConfig(MergeType.Upsert, "s.k = t.k"))
    }
    assert(e.getMessage.contains("missing target columns"))
    assert(GraftTable(spark, p).toDf().count() == 1) // table untouched
  }

  test("clause merge rejects typo'd column names before writing") {
    import graft.merge._
    val p = tmpDir("nmt")
    GraftWriter.write(spark, Seq((1L, "x")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val e = intercept[IllegalArgumentException] {
      MergeClausesExecutor.merge(spark, Seq((1L, "y")).toDF("k", "v"), p,
        "s.k = t.k", matched = Seq(UpdateSet(Map("vv" -> lit("boom")))))
    }
    assert(e.getMessage.contains("unknown target columns"))
    assert(GraftTable(spark, p).version() == 0) // no commit happened
  }

  test("reading a non-table path fails with a clear message") {
    val p = tmpDir("nt")
    val e = intercept[IllegalArgumentException] {
      GraftTable(spark, p).toDf()
    }
    assert(e.getMessage.contains("does not exist"))
    intercept[IllegalArgumentException] {
      spark.read.format("graft").load(p).count()
    }
  }

  test("unknown version is rejected with the available range") {
    val p = tmpDir("uv")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    val e = intercept[IllegalArgumentException] {
      GraftTable(spark, p).toDf(Some(7L))
    }
    assert(e.getMessage.contains("version 7"))
  }

  test("a corrupted commit file fails loudly, not silently") {
    val p = tmpDir("cc")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    val log = new java.io.File(p, "_graft_log/v0000000000.json")
    java.nio.file.Files.writeString(log.toPath, "{ not json")
    intercept[Exception] { GraftTable(spark, p).toDf().count() }
  }

  test("slice on a missing column fails at analysis, table intact") {
    val p = tmpDir("mc")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    intercept[Exception] {
      GraftTable(spark, p).scan(TableSlice("s", "t",
        Seq(StaticDimension("nope", Seq("x"))))).count()
    }
    assert(GraftTable(spark, p).toDf().count() == 1) // unharmed
  }

  test("failed staged write leaves no committed state") {
    val p = tmpDir("fw")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    // a df that throws at execution time
    val bomb = spark.range(1).select(
      (lit(1) / lit(0)).cast("long").as("a"),
      assert_true(lit(false)).cast("long").as("b"))
    intercept[Exception] {
      GraftWriter.write(spark, bomb, p, WriteOptions(mode = WriteMode.Append))
    }
    val t = GraftTable(spark, p)
    assert(t.version() == 0L) // no new commit
    assert(t.toDf().count() == 1) // contents unchanged
  }

  test("column names that differ in case alone are refused; an older such table fails loudly on a case-insensitive read") {
    val p = tmpDir("case_clash") + "/t"
    // a case-sensitive session cannot create one...
    spark.conf.set("spark.sql.caseSensitive", "true")
    try intercept[IllegalArgumentException](GraftWriter.write(spark,
      Seq((1L, 10L)).toDF("P", "p"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("p"))))
    finally spark.conf.set("spark.sql.caseSensitive", "false")
    assert(!new graft.log.CommitLog(p, spark.sessionState.newHadoopConf()).tableExists())

    // ...nor can a schema-merging append add one
    GraftWriter.write(spark, Seq((1L, 10L)).toDF("x", "P"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("P")))
    intercept[IllegalArgumentException](GraftWriter.write(spark,
      Seq((2L, 20L)).toDF("x", "p"), p,
      WriteOptions(mode = WriteMode.Append, schemaMode = Some(SchemaMode.Merge))))
    val t = GraftTable(spark, p)
    assert(t.snapshot().schema.fieldNames.toSeq == Seq("x", "P"))

    // a table whose log already holds such a schema: a case-insensitive
    // read cannot tell `p` from the partition column `P`
    t.log.commit(operation = "ALTER TABLE", mode = "metadata",
      schemaDdl = "x BIGINT, p BIGINT, P BIGINT", partitionColumns = Seq("P"),
      metadata = t.log.tableProperties(), operationMetrics = Map.empty,
      add = Nil, remove = Nil)
    val e = intercept[IllegalStateException](t.toDf())
    assert(e.getMessage.contains("spark.sql.caseSensitive=true"))
    spark.conf.set("spark.sql.caseSensitive", "true")
    try assert(t.toDf().collect().map(r => (r.getLong(0), r.isNullAt(1), r.getLong(2))).toSeq ==
      Seq((1L, true, 10L)))
    finally spark.conf.set("spark.sql.caseSensitive", "false")
  }
}
