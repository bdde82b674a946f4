package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.MaterializedAgg
import graft.io._
import graft.merge.Dml

/** CDF-driven incremental aggregate maintenance — the MERGE + change
  * feed composition as users actually build it.
  */
class MaterializedAggSpec extends SparkSpec {
  import spark.implicits._

  private def recompute(src: String, sum: String): Map[String, (Long, Long)] =
    MaterializedAgg.summarize(
      GraftTable(spark, src).toDf(), Seq("cat"), "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  private def summaryOf(p: String): Map[String, (Long, Long)] =
    GraftTable(spark, p).toDf()
      .select("cat", "sum_val", "n_rows").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("summary tracks inserts, updates, deletes through the change feed") {
    val src = tmpDir("mv_src")
    val sum = tmpDir("mv_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    // initial build
    assert(MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v").isDefined)
    assert(summaryOf(sum) == Map("a" -> ((40L, 2L)), "b" -> ((20L, 1L))))
    // already current -> None, version unchanged
    val v0 = GraftTable(spark, sum).version()
    assert(MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v").isEmpty)
    assert(GraftTable(spark, sum).version() == v0)
    // append + update + delete on the source, then one refresh
    GraftWriter.write(spark, Seq((4L, "c", 5L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    Dml.update(spark, src, col("id") === 1L, Map("v" -> lit(15L)))
    Dml.delete(spark, src, col("id") === 3L)
    assert(MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v").isDefined)
    assert(summaryOf(sum) == recompute(src, sum))
    assert(summaryOf(sum) == Map("a" -> ((15L, 1L)), "b" -> ((20L, 1L)),
      "c" -> ((5L, 1L))))
    // a key deleted down to zero rows disappears from the summary
    Dml.delete(spark, src, col("cat") === "b")
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(!summaryOf(sum).contains("b"))
    assert(summaryOf(sum) == recompute(src, sum))
  }

  test("multi-sum views maintain every column from one change scan") {
    val src = tmpDir("mv_multi_src")
    val sum = tmpDir("mv_multi_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L, 1L), (2L, "b", 20L, 2L), (3L, "a", 30L, 3L))
        .toDF("id", "cat", "v", "w"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, sum(v), sum(w) FROM graft.`$src` GROUP BY cat")
    def rows() = GraftTable(spark, sum).toDf()
      .select("cat", "sum_v", "sum_w", "n_rows").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(rows() == Map("a" -> ((40L, 4L, 2L)), "b" -> ((20L, 2L, 1L))))
    // one incremental refresh catches BOTH sums up exactly
    GraftWriter.write(spark, Seq((4L, "b", 5L, 50L)).toDF("id", "cat", "v", "w"),
      src, WriteOptions(mode = WriteMode.Append))
    Dml.update(spark, src, col("id") === 1L, Map("w" -> lit(100L)))
    Dml.delete(spark, src, col("id") === 3L)
    assert(!spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`")
      .head().isNullAt(0))
    val expect = MaterializedAgg.summarizeSums(
      GraftTable(spark, src).toDf(), Seq("cat"), Seq("v", "w")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(5))))
      .toMap
    assert(rows() == expect)
    assert(rows() == Map("a" -> ((10L, 100L, 1L)), "b" -> ((25L, 52L, 2L))))
  }

  test("NULL grouping keys are one group, not a duplicate row per refresh") {
    val src = tmpDir("mv_nullkey_src")
    val sum = tmpDir("mv_nullkey_sum")
    GraftWriter.write(spark,
      Seq((1L, Option("a"), 10L), (2L, Option.empty[String], 20L),
        (3L, Option.empty[String], 30L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    def nullRows() = GraftTable(spark, sum).toDf()
      .filter(col("cat").isNull).collect()
    assert(nullRows().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((50L, 2L)))
    // a delta for the NULL key must MATCH the existing NULL summary row
    // (null-safe predicate), not insert a second one
    GraftWriter.write(spark,
      Seq((4L, Option.empty[String], 5L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Append))
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(nullRows().length == 1, "NULL key must stay one summary row")
    assert(nullRows().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((55L, 3L)))
    // deleting the NULL group down to zero rows removes the row
    Dml.delete(spark, src, col("cat").isNull)
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(nullRows().isEmpty)
  }

  test("a summary predating n_vals is refused with the rebuild remedy") {
    val src = tmpDir("mv_old_src")
    val sum = tmpDir("mv_old_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    // an old-build summary: (keys, sum_val, n_rows) and the watermark,
    // but no n_vals column — its backfill is not derivable
    GraftWriter.write(spark,
      Seq(("a", 10L, 1L)).toDF("cat", "sum_val", "n_rows"),
      sum, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(MaterializedAgg.SourceVersionKey -> "0")))
    GraftWriter.write(spark, Seq((2L, "a", 5L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Append))
    val e = intercept[Exception] {
      MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    }
    assert(e.getMessage.contains("rebuild"), e.getMessage)
  }

  test("CREATE/REFRESH MATERIALIZED VIEW SQL drives the same engine") {
    val src = tmpDir("mv_sql_src")
    val sum = tmpDir("mv_sql_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    val v0 = spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, sum(v) AS total FROM graft.`$src` GROUP BY cat")
      .head().getLong(0)
    assert(v0 == GraftTable(spark, src).version())
    assert(summaryOf(sum) == Map("a" -> ((40L, 2L)), "b" -> ((20L, 1L))))
    // the definition rides the creating commit: REFRESH needs only the
    // target and is a no-op (NULL version) while the source is unchanged
    assert(spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`")
      .head().isNullAt(0))
    // source changes -> one incremental refresh catches up exactly
    GraftWriter.write(spark, Seq((4L, "c", 5L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    Dml.delete(spark, src, col("id") === 1L)
    val v1 = spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`")
      .head().getLong(0)
    assert(v1 == GraftTable(spark, src).version())
    assert(summaryOf(sum) == recompute(src, sum))
    // non-maintainable select shapes and key mismatches are refused
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`${tmpDir("mv_sql_bad")}` " +
        s"AS SELECT cat, v + 1, sum(v) FROM graft.`$src` GROUP BY cat")
    }
    assert(e1.getMessage.contains("cannot maintain"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`${tmpDir("mv_sql_bad2")}` " +
        s"AS SELECT id, sum(v) FROM graft.`$src` GROUP BY cat")
    }
    assert(e2.getMessage.contains("must equal GROUP BY"), e2.getMessage)
    // refreshing a table that is not a materialized view errors loudly
    val plain = tmpDir("mv_sql_plain")
    GraftWriter.write(spark, Seq((1L, 1L)).toDF("a", "b"), plain,
      WriteOptions(mode = WriteMode.Overwrite))
    val e3 = intercept[Exception] {
      spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$plain`")
    }
    assert(e3.getMessage.contains("not a materialized view"), e3.getMessage)
    // existing target refused
    val e4 = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
        s"SELECT cat, sum(v) FROM graft.`$src` GROUP BY cat")
    }
    assert(e4.getMessage.contains("already exists"), e4.getMessage)
  }

  test("avg/count forms derive from maintained sums; all-NULL avg reads NULL after deletes") {
    val src = tmpDir("mv_avg_src")
    val sum = tmpDir("mv_avg_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", Some(10L)), (2L, "a", Some(30L)),
        (3L, "b", None), (4L, "b", Some(8L)))
        .toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, avg(v) AS avg_v, count(v) AS n_v, count(*) AS n_all, " +
      s"sum(v) AS s_v FROM graft.`$src` GROUP BY cat")
    def view(): Map[String, (Option[Double], Long, Long, Option[Long])] =
      MaterializedAgg.readView(spark, sum).collect().map { r =>
        r.getString(0) -> ((
          if (r.isNullAt(1)) None else Some(r.getDouble(1)),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4))))
      }.toMap
    assert(view() == Map(
      "a" -> ((Some(20.0), 2L, 2L, Some(40L))),
      "b" -> ((Some(8.0), 1L, 2L, Some(8L)))))

    // delete b's only non-null value: the incremental refresh must take
    // the group's derived avg to NULL (exact avg() semantics), while
    // count(*) still sees the surviving NULL row
    Dml.delete(spark, src, col("id") === 4L)
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`")
    assert(view() == Map(
      "a" -> ((Some(20.0), 2L, 2L, Some(40L))),
      "b" -> ((None, 0L, 1L, None))))

    // count(*)-only views maintain just keys + n_rows
    val cnt = tmpDir("mv_cnt_sum")
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$cnt` AS " +
      s"SELECT cat, count(*) AS n FROM graft.`$src` GROUP BY cat")
    assert(MaterializedAgg.readView(spark, cnt).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 2L, "b" -> 1L))
    Dml.delete(spark, src, col("cat") === "b")
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$cnt`")
    assert(MaterializedAgg.readView(spark, cnt).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("a" -> 2L))
  }

  test("retention past the watermark fails with the rebuild remedy") {
    val src = tmpDir("mv_ret_src")
    val sum = tmpDir("mv_ret_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    assert(MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v").isDefined)
    // enough commits to pass a checkpoint boundary, then retention
    // prunes the log PAST the summary's v0 watermark
    (2 to 15).foreach { i =>
      GraftWriter.write(spark,
        Seq((i.toLong, "a", i.toLong)).toDF("id", "cat", "v"), src,
        WriteOptions(mode = WriteMode.Append))
    }
    val log = GraftTable(spark, src).log
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    assert(log.cleanOldLogs(1000L, nowMs = future).nonEmpty)
    assert(log.versions().head > 1L, "retention must prune past the watermark")
    val e = intercept[IllegalStateException] {
      MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    }
    assert(e.getMessage.contains("REBUILD the materialized view"),
      e.getMessage)
  }

  test("streaming maintenance: every micro-batch triggers an exactly-once refresh") {
    val src = tmpDir("mv_stream_src")
    val sum = tmpDir("mv_stream_sum")
    val ckpt = tmpDir("mv_stream_ckpt")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    val q = MaterializedAgg.maintainStream(spark, src, sum, Seq("cat"), "v", ckpt)
    try {
      q.processAllAvailable()
      assert(summaryOf(sum) == Map("a" -> ((10L, 1L)), "b" -> ((20L, 1L))))
      // live source changes flow through while the stream runs
      GraftWriter.write(spark, Seq((3L, "a", 5L)).toDF("id", "cat", "v"), src,
        WriteOptions(mode = WriteMode.Append))
      Dml.delete(spark, src, col("id") === 2L)
      q.processAllAvailable()
      assert(summaryOf(sum) == Map("a" -> ((15L, 2L))))
      assert(summaryOf(sum) == recompute(src, sum))
    } finally q.stop()
    // restart from the checkpoint: re-delivered batches find the
    // watermark already advanced — nothing double-applies
    val q2 = MaterializedAgg.maintainStream(spark, src, sum, Seq("cat"), "v", ckpt)
    try {
      q2.processAllAvailable()
      assert(summaryOf(sum) == Map("a" -> ((15L, 2L))))
    } finally q2.stop()
  }

  test("streaming maintenance of a MULTI-sum view from the recorded definition") {
    val src = tmpDir("mv_msum_src")
    val sum = tmpDir("mv_msum_sum")
    val ckpt = tmpDir("mv_msum_ckpt")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L, 1L), (2L, "b", 20L, 2L)).toDF("id", "cat", "v", "w"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    // build the two-sum view, then maintain it from the DEFINITION the
    // summary carries (no keys/columns repeated at the call site)
    assert(MaterializedAgg.refreshSums(
      spark, src, sum, Seq("cat"), Seq("v", "w")).isDefined)
    val q = MaterializedAgg.maintainStreamByTarget(spark, sum, ckpt)
    try {
      GraftWriter.write(spark,
        Seq((3L, "a", 5L, 7L)).toDF("id", "cat", "v", "w"), src,
        WriteOptions(mode = WriteMode.Append))
      q.processAllAvailable()
      val rows = GraftTable(spark, sum).toDf()
        .select("cat", "sum_v", "sum_w").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(rows == Map("a" -> ((15L, 8L)), "b" -> ((20L, 2L))))
    } finally q.stop()
  }

  test("NULL values: incremental refresh matches sum()'s NULL semantics exactly") {
    val src = tmpDir("mv_null_src")
    val sum = tmpDir("mv_null_sum")
    def nullSafe(p: String): Map[String, (Option[Long], Long, Long)] =
      GraftTable(spark, p).toDf()
        .select("cat", "sum_val", "n_rows", "n_vals").collect()
        .map(r => r.getString(0) -> ((
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getLong(2), r.getLong(3)))).toMap
    def recomputeNs(p: String): Map[String, (Option[Long], Long, Long)] =
      MaterializedAgg.summarize(
        GraftTable(spark, p).toDf(), Seq("cat"), "v").collect()
        .map(r => r.getString(0) -> ((
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getLong(2), r.getLong(3)))).toMap
    // "a" mixes NULL and non-null; "b" is all-NULL (sum() -> NULL)
    GraftWriter.write(spark,
      Seq((1L, "a", Some(10L)), (2L, "a", None), (3L, "b", None))
        .toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(nullSafe(sum) == Map(
      "a" -> ((Some(10L), 2L, 1L)), "b" -> ((None, 1L, 0L))))
    assert(nullSafe(sum) == recomputeNs(src))
    // a batch whose changed rows are ALL NULL for a key must not null
    // the accumulated sum (the reported bug: d_sum = sum(NULL) = NULL)
    GraftWriter.write(spark,
      Seq((4L, "a", None: Option[Long])).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(nullSafe(sum)("a") == ((Some(10L), 3L, 1L)))
    assert(nullSafe(sum) == recomputeNs(src))
    // "b" gains its first non-null value: NULL -> 5, like a recompute
    GraftWriter.write(spark,
      Seq((5L, "b", Some(5L))).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(nullSafe(sum)("b") == ((Some(5L), 2L, 1L)))
    // deleting the only non-null row sends the sum back to NULL
    Dml.delete(spark, src, col("id") === 1L)
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(nullSafe(sum)("a") == ((None, 2L, 0L)))
    assert(nullSafe(sum) == recomputeNs(src))
  }

  test("the watermark rides the merge commit — refresh is exactly-once") {
    val src = tmpDir("mv_once_src")
    val sum = tmpDir("mv_once_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 7L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    GraftWriter.write(spark, Seq((2L, "a", 3L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v")
    assert(summaryOf(sum) == Map("a" -> ((10L, 2L))))
    // the recorded watermark and the merged rows are ONE commit: a
    // replayed refresh (e.g. after a crash-retry) sees the watermark
    // and does nothing — sums can never double-apply
    val t = GraftTable(spark, sum)
    val props = t.log.tableProperties()
    assert(props(MaterializedAgg.SourceVersionKey).toLong ==
      GraftTable(spark, src).version())
    assert(MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v").isEmpty)
    assert(summaryOf(sum) == Map("a" -> ((10L, 2L))))
    // metadata-only source commits advance the watermark harmlessly
    graft.io.Alter.alter(spark, src,
      props = Map(graft.log.CommitLog.ReservedPrefix + "note" -> "x"))
    assert(MaterializedAgg.refresh(spark, src, sum, Seq("cat"), "v").isDefined)
    assert(summaryOf(sum) == Map("a" -> ((10L, 2L))))
  }

  test("min/max: inserts fold; extremum-touching deletes recompute only affected groups") {
    val src = tmpDir("mv_mm_src")
    val sum = tmpDir("mv_mm_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 1L), (2L, "a", 5L), (3L, "b", 7L), (4L, "b", 7L),
        (5L, "c", 2L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, sum(v) AS sum_v, min(v) AS min_v, max(v) AS max_v, " +
      s"count(*) AS n FROM graft.`$src` GROUP BY cat")
    // (sum, min, max, n) per key, via the declared-view projection
    def view(): Map[String, (Long, Long, Long, Long)] =
      MaterializedAgg.readView(spark, sum).collect().map(r =>
        r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // full-recompute reference (summary layout: sum_val, n_rows, n_vals,
    // min_v, max_v)
    def full(): Map[String, (Long, Long, Long, Long)] =
      MaterializedAgg.summarizeSums(
        GraftTable(spark, src).toDf(), Seq("cat"), Seq("v"), Seq("v"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(4), r.getLong(5), r.getLong(2)))).toMap
    def refresh(): Unit = {
      spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
      assert(view() == full(), "summary must equal a full recompute")
    }
    assert(view() == Map("a" -> ((6L, 1L, 5L, 2L)), "b" -> ((14L, 7L, 7L, 2L)),
      "c" -> ((2L, 2L, 2L, 1L))))

    // insert-only: the new extremum folds incrementally (no recompute)
    GraftWriter.write(spark, Seq((6L, "a", 9L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    refresh()
    assert(view()("a") == ((15L, 1L, 9L, 3L)))

    // deleting the CURRENT max forces the bounded recompute, which
    // restores the second-best exactly
    Dml.delete(spark, src, col("id") === 6L)
    refresh()
    assert(view()("a") == ((6L, 1L, 5L, 2L)))

    // duplicate extremum: deleting ONE of b's two 7s keeps max = 7
    Dml.delete(spark, src, col("id") === 3L)
    refresh()
    assert(view()("b") == ((7L, 7L, 7L, 1L)))

    // an UPDATE whose preimage is the extremum recomputes the group
    Dml.update(spark, src, col("id") === 4L, Map("v" -> lit(3L)))
    refresh()
    assert(view()("b") == ((3L, 3L, 3L, 1L)))

    // sum/count-NEUTRAL churn that still moves extrema: {1,4} -> {2,3}
    // across two commits folded into ONE refresh range
    GraftWriter.write(spark,
      Seq((10L, "d", 1L), (11L, "d", 4L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    refresh()
    assert(view()("d") == ((5L, 1L, 4L, 2L)))
    Dml.delete(spark, src, col("id").isin(10L, 11L))
    GraftWriter.write(spark,
      Seq((12L, "d", 2L), (13L, "d", 3L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    refresh()
    assert(view()("d") == ((5L, 2L, 3L, 2L)))

    // a NEW group whose in-range history already lost its extremum:
    // insert {1,5,9} then delete the 9 before any refresh — the naive
    // insert-side fold would report max = 9
    GraftWriter.write(spark,
      Seq((20L, "e", 1L), (21L, "e", 5L), (22L, "e", 9L))
        .toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    Dml.delete(spark, src, col("id") === 22L)
    refresh()
    assert(view()("e") == ((6L, 1L, 5L, 2L)))

    // a group created AND fully deleted within one range never lands
    GraftWriter.write(spark, Seq((30L, "f", 3L)).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    Dml.delete(spark, src, col("id") === 30L)
    refresh()
    assert(!view().contains("f"))

    // a group deleted to zero rows disappears
    Dml.delete(spark, src, col("cat") === "c")
    refresh()
    assert(!view().contains("c"))
  }

  test("count(DISTINCT): exact through deletes and value churn via the support relation") {
    val src = tmpDir("mv_cd_src")
    val sum = tmpDir("mv_cd_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", Option(10L)), (2L, "a", Option(10L)), (3L, "a", Option(20L)),
        (4L, "b", Option(7L)), (5L, "b", Option.empty[Long]))
        .toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, count(DISTINCT v) AS nd, count(*) AS n " +
      s"FROM graft.`$src` GROUP BY cat")
    def view(): Map[String, (Long, Long)] =
      MaterializedAgg.readView(spark, sum).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // NULLs never count as a distinct value
    assert(view() == Map("a" -> ((2L, 3L)), "b" -> ((1L, 2L))))

    // deleting ONE duplicate of a value keeps it distinct-counted;
    // deleting the LAST copy drops it
    Dml.delete(spark, src, col("id") === 1L) // one of a's two 10s
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    assert(view() == Map("a" -> ((2L, 2L)), "b" -> ((1L, 2L))))
    Dml.delete(spark, src, col("id") === 2L) // a's last 10
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    assert(view() == Map("a" -> ((1L, 1L)), "b" -> ((1L, 2L))))

    // an UPDATE that moves a value to an existing bucket shrinks the
    // count; moving it to a fresh bucket keeps it
    GraftWriter.write(spark,
      Seq((6L, "b", Option(9L))).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    assert(view()("b") == ((2L, 3L)))
    Dml.update(spark, src, col("id") === 6L, Map("v" -> lit(7L)))
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    assert(view()("b") == ((1L, 3L))) // 9 vanished into the 7 bucket
    // a key whose values are ALL NULL reads distinct count 0
    Dml.update(spark, src, col("cat") === "a",
      Map("v" -> lit(null).cast("long")))
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    assert(view()("a") == ((0L, 1L)))

    // a crash between the summary's and the support relation's merges
    // splits their watermarks — the read refuses loudly and one more
    // REFRESH converges (simulated by refreshing the aux alone)
    GraftWriter.write(spark,
      Seq((7L, "b", Option(11L))).toDF("id", "cat", "v"), src,
      WriteOptions(mode = WriteMode.Append))
    MaterializedAgg.refreshByTarget(spark,
      MaterializedAgg.distinctAuxPath(sum, "v"))
    val e = intercept[Exception] { MaterializedAgg.readView(spark, sum).collect() }
    assert(e.getMessage.contains("REFRESH MATERIALIZED VIEW"), e.getMessage)
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    assert(view()("b") == ((2L, 4L)))

    // DROP removes the summary AND its support relation; refuses a
    // plain data table
    val aux = MaterializedAgg.distinctAuxPath(sum, "v")
    assert(GraftTable.exists(spark, aux))
    val eDrop = intercept[Exception] {
      spark.sql(s"DROP MATERIALIZED VIEW graft.`$src`")
    }
    assert(eDrop.getMessage.contains("not a materialized view"),
      eDrop.getMessage)
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$sum`")
    assert(!GraftTable.exists(spark, sum))
    assert(!GraftTable.exists(spark, aux),
      "the count-distinct support relation must be dropped with its view")
  }

  test("asOfVersion pins a refresh and its support relations to ONE source version") {
    val src = tmpDir("mv_pin_src")
    val sum = tmpDir("mv_pin_sum")
    GraftWriter.write(spark, Seq((1L, "a", 10L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    // API-built distinct view (no SelectKey): the raw-summary fallback
    // must surface count_distinct_v (coalesced to 0), never __nd_v
    MaterializedAgg.refreshSums(spark, src, sum, Seq("cat"), Nil,
      distinctCols = Seq("v"))
    def nd(): Long = {
      val row = MaterializedAgg.readView(spark, sum)
        .filter(col("cat") === "a").head()
      assert(!row.schema.fieldNames.exists(_.startsWith("__nd")),
        row.schema.fieldNames.mkString(","))
      row.getLong(row.fieldIndex("count_distinct_v"))
    }
    assert(nd() == 1L)
    GraftWriter.write(spark, Seq((2L, "a", 20L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Append))
    GraftWriter.write(spark, Seq((3L, "a", 30L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Append))
    val head = GraftTable(spark, src).version()
    // pin the refresh one version back: summary AND aux land on the
    // SAME pinned watermark (a fresh src.version() read in the aux
    // recursion would split them under a continuously-committing
    // source), so the view reads consistently at head-1
    MaterializedAgg.refreshSums(spark, src, sum, Seq("cat"), Nil,
      distinctCols = Seq("v"), asOfVersion = Some(head - 1))
    assert(nd() == 2L)
    // an ordinary refresh catches up to head
    MaterializedAgg.refreshSums(spark, src, sum, Seq("cat"), Nil,
      distinctCols = Seq("v"))
    assert(nd() == 3L)
    // a mismatched distinct set is refused loudly (orphan-aux guard)
    val eSet = intercept[Exception] {
      MaterializedAgg.refreshSums(spark, src, sum, Seq("cat"), Nil,
        distinctCols = Seq("id"))
    }
    assert(eSet.getMessage.contains("drop and rebuild"), eSet.getMessage)
  }

  test("DROP refuses a LIVE support relation and redirects to its owner; orphans drop") {
    val src = tmpDir("mv_auxdrop_src")
    val sum = tmpDir("mv_auxdrop_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, count(DISTINCT v) AS nd FROM graft.`$src` GROUP BY cat")
    val aux = MaterializedAgg.distinctAuxPath(sum, "v")
    assert(GraftTable.exists(spark, aux))
    // the aux is stamped with its owner at creation
    assert(GraftTable(spark, aux).log.tableProperties()
      .get(MaterializedAgg.AuxOfKey).contains(sum.stripSuffix("/")))
    // a direct DROP of the aux is refused while the owner records it —
    // it carries the matview property set, so only the owner marker /
    // naming contract tells it apart from a user view
    val e = intercept[Exception] {
      spark.sql(s"DROP MATERIALIZED VIEW graft.`$aux`")
    }
    assert(e.getMessage.contains("support relation") &&
      e.getMessage.contains(sum.stripSuffix("/")), e.getMessage)
    assert(GraftTable.exists(spark, aux), "refusal must not delete")
    // owner gone (manual partial cleanup) → the aux is an orphan and
    // drops normally
    val hp = new org.apache.hadoop.fs.Path(sum)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$aux`").collect()
    assert(!GraftTable.exists(spark, aux))
  }

  test("DROP confirms the aux contract before deleting; a foreign table at the aux name refuses") {
    val src = tmpDir("mv_foreign_src")
    val sum = tmpDir("mv_foreign_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, count(DISTINCT v) AS nd FROM graft.`$src` GROUP BY cat")
    // replace the aux with a FOREIGN data table at the recorded name
    val aux = MaterializedAgg.distinctAuxPath(sum, "v")
    val hp = new org.apache.hadoop.fs.Path(aux)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    GraftWriter.write(spark, Seq((1L, "keep me")).toDF("id", "t"),
      aux, WriteOptions(mode = WriteMode.Overwrite))
    val e = intercept[Exception] {
      spark.sql(s"DROP MATERIALIZED VIEW graft.`$sum`")
    }
    assert(e.getMessage.contains("refusing to delete"), e.getMessage)
    assert(GraftTable.exists(spark, aux), "the foreign table must survive")
    // a MISSING aux (crash before the aux build) is skipped, not an error
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    spark.sql(s"DROP MATERIALIZED VIEW graft.`$sum`").collect()
    assert(!GraftTable.exists(spark, sum))
  }

  test("readView pins each table to ONE snapshot — a refresh after plan build cannot mix versions") {
    val src = tmpDir("mv_pin2_src")
    val sum = tmpDir("mv_pin2_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, count(DISTINCT v) AS nd, count(*) AS n " +
      s"FROM graft.`$src` GROUP BY cat")
    val pinned = MaterializedAgg.readView(spark, sum) // plan built NOW
    // a whole refresh cycle lands underneath the un-collected plan
    GraftWriter.write(spark, Seq((3L, "a", 30L)).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Append))
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    // the pinned plan serves the snapshot pair it was resolved against —
    // summary AND aux from the SAME source version, never summary@new
    // joined to aux@old or vice versa
    val r = pinned.filter(col("cat") === "a").head()
    assert(r.getLong(r.fieldIndex("nd")) == 2L &&
      r.getLong(r.fieldIndex("n")) == 2L, r.toString)
    val fresh = MaterializedAgg.readView(spark, sum)
      .filter(col("cat") === "a").head()
    assert(fresh.getLong(fresh.fieldIndex("nd")) == 3L &&
      fresh.getLong(fresh.fieldIndex("n")) == 3L, fresh.toString)
  }

  test("DESCRIBE MATERIALIZED VIEW: definition, staleness, support convergence, aux_of") {
    val src = tmpDir("mv_desc_src")
    val sum = tmpDir("mv_desc_sum")
    GraftWriter.write(spark,
      Seq((1L, "a", Option(10L)), (2L, "b", Option(20L)))
        .toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$sum` AS " +
      s"SELECT cat, sum(v) AS s, min(v) AS mn, count(DISTINCT v) AS nd " +
      s"FROM graft.`$src` GROUP BY cat")
    def describe() = spark.sql(s"DESCRIBE MATERIALIZED VIEW graft.`$sum`").head()
    val d0 = describe()
    assert(d0.getString(d0.fieldIndex("source_path")) == src)
    assert(d0.getString(d0.fieldIndex("group_keys")) == "cat")
    assert(d0.getString(d0.fieldIndex("sum_cols")) == "v")
    assert(d0.getString(d0.fieldIndex("minmax_cols")) == "v")
    assert(d0.getString(d0.fieldIndex("distinct_cols")) == "v")
    assert(!d0.getBoolean(d0.fieldIndex("stale")))
    assert(d0.getBoolean(d0.fieldIndex("supports_consistent")))
    assert(d0.isNullAt(d0.fieldIndex("aux_of")))
    val aux = MaterializedAgg.distinctAuxPath(sum, "v")
    assert(d0.getString(d0.fieldIndex("support_relations")) == aux)
    // a source commit flips stale; the supports stay mutually consistent
    GraftWriter.write(spark, Seq((3L, "a", Option(30L))).toDF("id", "cat", "v"),
      src, WriteOptions(mode = WriteMode.Append))
    val d1 = describe()
    assert(d1.getBoolean(d1.fieldIndex("stale")))
    assert(d1.getBoolean(d1.fieldIndex("supports_consistent")))
    // refreshing ONLY the aux (simulated crash) splits the watermarks —
    // DESCRIBE reports the divergence the read would refuse on
    MaterializedAgg.refreshByTarget(spark, aux)
    val d2 = describe()
    assert(!d2.getBoolean(d2.fieldIndex("supports_consistent")))
    spark.sql(s"REFRESH MATERIALIZED VIEW graft.`$sum`").collect()
    val d3 = describe()
    assert(!d3.getBoolean(d3.fieldIndex("stale")) &&
      d3.getBoolean(d3.fieldIndex("supports_consistent")))
    // describing the SUPPORT RELATION itself names its owner
    val da = spark.sql(s"DESCRIBE MATERIALIZED VIEW graft.`$aux`").head()
    assert(da.getString(da.fieldIndex("aux_of")) == sum.stripSuffix("/"))
    // a plain data table refuses
    val e = intercept[Exception] {
      spark.sql(s"DESCRIBE MATERIALIZED VIEW graft.`$src`").collect()
    }
    assert(e.getMessage.contains("not a materialized view"), e.getMessage)
  }

  test("extremum recompute broadcast-hints only under the flagged-key bound") {
    val srcDf = Seq(("a", 1L), ("b", 2L)).toDF("cat", "v")
    val flagged = Seq("a").toDF("cat")
    def hinted(h: Boolean): Boolean =
      MaterializedAgg.recomputeExtrema(srcDf, flagged, Seq("cat"), Seq("v"),
        hintBroadcast = h)
        .queryExecution.analyzed.toString.toLowerCase.contains("hint")
    assert(hinted(true), "small flag sets keep the broadcast hint")
    assert(!hinted(false),
      "past the bound the hint must be absent — Spark/AQE picks the " +
        "strategy (a boundary-deleting batch can flag every changed group)")
  }

  /** Per-key (sum, rows, non-null values) of a signed change frame,
    * all-zero keys dropped (carried-over rows cancel to zero).
    */
  private def signedTotals(df: DataFrame, sign: Column) =
    df.groupBy("cat").agg(
        sum(coalesce(col("v"), lit(0L)) * sign).as("s"),
        sum(sign).as("n"),
        sum(when(col("v").isNotNull, sign).otherwise(0L)).as("nv"))
      .filter(col("s") =!= 0L || col("n") =!= 0L || col("nv") =!= 0L)
      .collect().map(r => r.get(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("signed churn feed: per-key sums equal the exact feed's over random commit sequences") {
    for ((cdf, seed) <- Seq(false -> 7, true -> 11)) {
      val rnd = new scala.util.Random(seed)
      val src = tmpDir(s"mv_sign_src_${cdf}_$seed")
      val sum = tmpDir(s"mv_sign_sum_${cdf}_$seed")
      var nextId = 0L
      // pt = id % 3 everywhere, so replaceWhere rows satisfy their predicate
      def rowsOf(ids: Seq[Long]): DataFrame =
        ids.map { id =>
          val cat = if (rnd.nextInt(5) == 0) null else Seq("a", "b", "c")(rnd.nextInt(3))
          val v: java.lang.Long =
            if (rnd.nextInt(4) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50).toLong)
          (id, (id % 3).toInt, cat, v)
        }.toDF("id", "pt", "cat", "v").repartition(2)
      def rows(n: Int, pt: Option[Int] = None): DataFrame =
        rowsOf((1 to n).map { _ =>
          while (pt.exists(p => nextId % 3 != p)) nextId += 1
          nextId += 1
          nextId - 1
        })
      GraftWriter.write(spark, rows(24), src, WriteOptions(mode = WriteMode.Overwrite,
        partitionBy = Seq("pt"), metadata = Map(Cdc.PropKey -> cdf.toString)))
      MaterializedAgg.refreshSums(spark, src, sum, Seq("cat"), Seq("v"),
        distinctCols = Seq("v"))
      def op(kind: Int): Unit = kind match {
        case 0 => GraftWriter.write(spark, rows(6), src, WriteOptions())
        case 1 =>
          val p = rnd.nextInt(3)
          GraftWriter.write(spark, rows(5, Some(p)), src, WriteOptions(
            mode = WriteMode.Overwrite, replaceWhere = Some(col("pt") === p)))
        case 2 =>
          // upsert: earlier ids (live or deleted) take new values, fresh
          // ids insert
          val old = Seq.fill(4)(rnd.nextLong(nextId)).distinct
          merge.MergeExecutor.merge(spark, rowsOf(old).unionByName(rows(2)), src,
            merge.MergeConfig(merge.MergeType.Upsert, "s.id = t.id"))
        case 3 => Dml.update(spark, src, col("id") % 4 === rnd.nextInt(4),
          Map("v" -> (col("v") + 1L), "cat" -> lit("b")))
        case 4 => Dml.delete(spark, src, col("id") % 5 === rnd.nextInt(5))
        case _ => GraftWriter.optimize(spark, src)
      }
      def refreshAndCheck(): Unit = {
        val t = GraftTable(spark, src)
        val lastV = GraftTable(spark, sum).log.tableProperties()(
          MaterializedAgg.SourceVersionKey).toLong
        val curV = t.version()
        if (curV > lastV) {
          val signed = signedTotals(t.signedChanges(lastV, curV), col(Cdc.SignCol))
          val exact = signedTotals(t.tableChanges(lastV, curV),
            Cdc.signOf(col(Cdc.ChangeCol)))
          assert(signed == exact, s"cdf=$cdf seed=$seed ($lastV, $curV]")
        }
        MaterializedAgg.refreshSums(spark, src, sum, Seq("cat"), Seq("v"),
          distinctCols = Seq("v"))
        def set(df: DataFrame) =
          df.select("cat", "sum_val", "n_rows", "n_vals").collect().map(_.toSeq).toSet
        assert(set(GraftTable(spark, sum).toDf()) ==
          set(MaterializedAgg.summarizeSums(t.toDf(), Seq("cat"), Seq("v"))),
          s"cdf=$cdf seed=$seed at v$curV")
        def aux(df: DataFrame) =
          df.select("cat", "v", "n_rows").collect().map(_.toSeq).toSet
        assert(aux(GraftTable(spark,
          MaterializedAgg.distinctAuxPath(sum, "v")).toDf()) ==
          aux(MaterializedAgg.summarizeSums(t.toDf(), Seq("cat", "v"), Nil)))
      }
      // every operation kind once, in a seeded order, plus one more
      val kinds = rnd.shuffle((0 to 5).toList) :+ rnd.nextInt(6)
      kinds.zipWithIndex.foreach { case (kind, i) =>
        op(kind)
        // midway the table switches to deletion vectors and takes a DV
        // delete (same path, new DV: the churn is the file's identity)
        if (i == 3) {
          GraftWriter.write(spark, rows(3), src,
            WriteOptions(metadata = Map(DeletionVectors.PropKey -> "true")))
          Dml.delete(spark, src, col("id") % 7 === 1L)
        }
        if (rnd.nextBoolean()) refreshAndCheck()
      }
      refreshAndCheck()
    }
  }

  test("linear views refresh without EXCEPT ALL; min/max views keep the exact feed") {
    import org.apache.spark.sql.graft.ExecutionRecorder
    val src = tmpDir("mv_plan_src")
    GraftWriter.write(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L), (4L, "c", 5L))
        .toDF("id", "cat", "v").repartition(2),
      src, WriteOptions(mode = WriteMode.Overwrite))
    val sumV = tmpDir("mv_plan_sum")
    val mmV = tmpDir("mv_plan_mm")
    MaterializedAgg.refresh(spark, src, sumV, Seq("cat"), "v")
    MaterializedAgg.refreshSums(spark, src, mmV, Seq("cat"), Seq("v"),
      minMaxCols = Seq("v"))
    // a COW rewrite: the range removes a file and adds its rewrite
    Dml.update(spark, src, col("id") === 1L, Map("v" -> lit(11L)))
    val (_, sumRuns) = ExecutionRecorder.record(spark) {
      MaterializedAgg.refresh(spark, src, sumV, Seq("cat"), "v")
    }
    assert(sumRuns.nonEmpty)
    assert(sumRuns.count(ExecutionRecorder.replicatesRows) == 0,
      "a sum view reads the signed churn scan — no EXCEPT ALL")
    val (_, mmRuns) = ExecutionRecorder.record(spark) {
      MaterializedAgg.refreshSums(spark, src, mmV, Seq("cat"), Seq("v"),
        minMaxCols = Seq("v"))
    }
    assert(mmRuns.count(ExecutionRecorder.replicatesRows) > 0,
      "a min/max view reads the exact (EXCEPT ALL) feed")
    val expect = MaterializedAgg.summarizeSums(
      GraftTable(spark, src).toDf(), Seq("cat"), Seq("v")).collect().map(_.toSeq).toSet
    assert(GraftTable(spark, sumV).toDf().collect().map(_.toSeq).toSet == expect)
  }
}
