package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.merge._

/** Property-style tests of the merge-type algebra over seeded random
  * tables (the reference proves these by running each materialization
  * twice — test_type_handler_merge.py:36-66; here the laws are checked
  * directly on the pure relational core across many random inputs).
  */
class MergeAlgebraSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)

  private def randomTable(maxKey: Int, minRows: Int = 1): DataFrame = {
    val n = minRows + rnd.nextInt(21 - minRows)
    // distinct keys (merge contract: unique on merge key)
    val keys = rnd.shuffle((0 to maxKey).toList).take(n)
    keys.map(k => (k.toLong, rnd.nextInt(100).toLong)).toDF("k", "v")
  }

  private def cfg(mt: MergeType) = MergeConfig(mt, "s.k = t.k")

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def keys(df: DataFrame): Set[Long] = rows(df).map(_._1)

  test("merge algebra laws hold over 25 random (target, source) pairs") {
    (1 to 25).foreach { i =>
      val t = randomTable(30)
      val s = randomTable(30)

      // upsert: idempotent, result keys = union of keys
      val up = MergeExecutor(t, s, cfg(MergeType.Upsert))
      assert(rows(MergeExecutor(up, s, cfg(MergeType.Upsert))) == rows(up),
        s"upsert not idempotent (case $i)")
      assert(keys(up) == (keys(t) union keys(s)), s"upsert keys (case $i)")
      // source rows win on intersection
      assert(rows(up).filter { case (k, _) => keys(s)(k) } == rows(s), s"upsert source-wins (case $i)")

      // deduplicate_insert: idempotent, target rows never change
      val di = MergeExecutor(t, s, cfg(MergeType.DeduplicateInsert))
      assert(rows(MergeExecutor(di, s, cfg(MergeType.DeduplicateInsert))) == rows(di),
        s"dedup_insert not idempotent (case $i)")
      assert(rows(di).filter { case (k, _) => keys(t)(k) } == rows(t),
        s"dedup_insert target-preserved (case $i)")

      // update_only: key set identical to target
      val uo = MergeExecutor(t, s, cfg(MergeType.UpdateOnly))
      assert(keys(uo) == keys(t), s"update_only keys (case $i)")

      // replace_delete_unmatched: exactly source restricted to target keys
      val rd = MergeExecutor(t, s, cfg(MergeType.ReplaceDeleteUnmatched))
      assert(rows(rd) == rows(s).filter { case (k, _) => keys(t)(k) },
        s"replace_delete (case $i)")
    }
  }

  test("clause formulations reproduce the four strategies (5 random pairs, on-disk)") {
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    (1 to 5).foreach { i =>
      val t0 = randomTable(30)
      val s0 = randomTable(30)
      def strat(mt: MergeType): Set[(Long, Long)] = {
        val p = tmpDir(s"mceq$i") + s"/s_${mt.name}"
        GraftWriter.write(spark, t0, p, WriteOptions(mode = WriteMode.Overwrite))
        MergeExecutor.merge(spark, s0, p, cfg(mt))
        rows(GraftTable(spark, p).toDf())
      }
      def clauses(
          matched: Seq[MatchedClause],
          notMatched: Seq[NotMatchedClause],
          bySource: Seq[MatchedClause]): Set[(Long, Long)] = {
        val p = tmpDir(s"mceqc$i") + "/t"
        GraftWriter.write(spark, t0, p, WriteOptions(mode = WriteMode.Overwrite))
        MergeClausesExecutor.merge(spark, s0, p, "s.k = t.k",
          matched, notMatched, bySource)
        rows(GraftTable(spark, p).toDf())
      }
      assert(strat(MergeType.Upsert) ==
        clauses(Seq(UpdateAll()), Seq(InsertAll()), Nil), s"upsert equiv (case $i)")
      assert(strat(MergeType.UpdateOnly) ==
        clauses(Seq(UpdateAll()), Nil, Nil), s"update_only equiv (case $i)")
      assert(strat(MergeType.DeduplicateInsert) ==
        clauses(Nil, Seq(InsertAll()), Nil), s"dedup_insert equiv (case $i)")
      assert(strat(MergeType.ReplaceDeleteUnmatched) ==
        clauses(Seq(UpdateAll()), Nil, Seq(Delete())), s"rdu equiv (case $i)")
    }
  }

  test("on-disk merge equals the relational core, scoped and unscoped (3 random multi-file pairs)") {
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // pt = k % 3 partitions the table; `k <= 15` is not partition-aligned
    // (candidates fall back to every file, scoped per row), `pt = 1` is
    def withPt(df: DataFrame): DataFrame = df.withColumn("pt", col("k") % 3)
    def triples(df: DataFrame): Seq[(Long, Long, Long)] =
      df.select("k", "v", "pt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val scopes: Seq[Option[Column]] = Seq(None, Some(col("k") <= 15), Some(col("pt") === 1L))
    val strategies = Seq(MergeType.UpdateOnly, MergeType.DeduplicateInsert,
      MergeType.Upsert, MergeType.ReplaceDeleteUnmatched)
    (1 to 3).foreach { i =>
      val t0 = withPt(randomTable(30, minRows = 4))
      val s0 = withPt(randomTable(30))
      for (mt <- strategies; (scope, j) <- scopes.zipWithIndex) {
        val p = tmpDir(s"mcore${i}_$j") + s"/${mt.name}"
        GraftWriter.write(spark, t0.repartition(2), p,
          WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt")))
        assert(GraftTable(spark, p).snapshot().files.size > 1)
        val config = cfg(mt).copy(partitionFilter = scope)
        MergeExecutor.merge(spark, s0, p, config)
        val want = scope match {
          case None => MergeExecutor(t0, s0, config)
          case Some(f) => MergeExecutor(t0.filter(f), s0, config)
            .unionByName(t0.filter(!coalesce(f, lit(false))))
        }
        assert(triples(GraftTable(spark, p).toDf()) == triples(want),
          s"${mt.name} scope=$scope (case $i)")
      }
    }
  }

  test("an equi-key upsert aggregates its source once: count and key range in one execution") {
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    import org.apache.spark.sql.graft.ExecutionRecorder
    val p = tmpDir("merge_one_agg") + "/t"
    GraftWriter.write(spark, (0L until 40L).map(k => (k, k * 10)).toDF("k", "v")
      .repartition(4), p, WriteOptions(mode = WriteMode.Overwrite))
    val src = Seq((5L, 1L), (6L, 2L), (100L, 3L)).toDF("k", "v")
    val (stats, runs) = ExecutionRecorder.record(spark) {
      MergeExecutor.merge(spark, src, p, cfg(MergeType.Upsert))
    }
    assert(stats.numSourceRows == 3L)
    // the source aggregate (count + key min/max in one pass), the
    // touched-file discovery, and the rewrite commit
    assert(runs.size == 3, runs.map(_.logical.nodeName).mkString(", "))
    val got = GraftTable(spark, p).toDf().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(5L) == 1L && got(6L) == 2L && got(100L) == 3L && got.size == 41)
  }

  test("a source whose merge keys are all NULL prunes every candidate file") {
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    val p = tmpDir("merge_null_keys") + "/t"
    GraftWriter.write(spark, (0L until 10L).map(k => (k, k)).toDF("k", "v")
      .repartition(2), p, WriteOptions(mode = WriteMode.Overwrite))
    val src = Seq((None: Option[Long], 1L), (None: Option[Long], 2L)).toDF("k", "v")
    val before = GraftTable(spark, p).snapshot().files.map(_.path).toSet
    val (_, runs) = org.apache.spark.sql.graft.ExecutionRecorder.record(spark) {
      MergeExecutor.merge(spark, src, p, cfg(MergeType.Upsert))
    }
    // nothing joins a NULL key: the stats test drops every target file
    // before the discovery scan, no file is rewritten, both rows append
    assert(runs.map(org.apache.spark.sql.graft.ExecutionRecorder.filesScanned).sum == 0L)
    assert(before.subsetOf(GraftTable(spark, p).snapshot().files.map(_.path).toSet))
    assert(GraftTable(spark, p).toDf().count() == 12L)
  }

  test("merge key names match case-insensitively: s.k = t.K still prunes by key range") {
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graft.ExecutionRecorder
    val p = tmpDir("merge_ci_key") + "/t"
    GraftWriter.write(spark, (0L until 40L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(4, col("k")), p, WriteOptions(mode = WriteMode.Overwrite))
    assert(GraftTable(spark, p).snapshot().files.size == 4)
    val src = Seq((5L, 1L)).toDF("k", "v")
    val (_, runs) = ExecutionRecorder.record(spark) {
      MergeExecutor.merge(spark, src, p, MergeConfig(MergeType.Upsert, "s.k = t.K"))
    }
    // key 5 lies in one file's footer range: no scan lists another
    assert(runs.flatMap(ExecutionRecorder.filesPerScan).max == 1L)
    val got = GraftTable(spark, p).toDf().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(5L) == 1L && got.size == 40)
  }

  test("a merge keyed on a date partition column scans only the partitions its source keys span") {
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    import org.apache.spark.sql.graft.ExecutionRecorder
    val p = tmpDir("merge_date_key") + "/t"
    val days = (1 to 4).map(i => java.sql.Date.valueOf(s"2024-01-0$i"))
    GraftWriter.write(spark, days.zipWithIndex.map { case (d, i) => (d, i.toLong) }
      .toDF("d", "v"), p, WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("d")))
    assert(GraftTable(spark, p).snapshot().files.size == 4)
    val src = Seq((days(1), 10L), (days(2), 20L)).toDF("d", "v")
    val (_, runs) = ExecutionRecorder.record(spark) {
      MergeExecutor.merge(spark, src, p, MergeConfig(MergeType.Upsert, "s.d = t.d"))
    }
    // the key range [01-02, 01-03] keeps two of the four partitions: no
    // scan lists the other two
    assert(runs.flatMap(ExecutionRecorder.filesPerScan).max == 2L)
    assert(GraftTable(spark, p).toDf().as[(java.sql.Date, Long)].collect().toSet ==
      Set((days(0), 0L), (days(1), 10L), (days(2), 20L), (days(3), 3L)))
  }
}
