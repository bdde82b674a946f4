package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core._
import graft.io._
import graft.merge._

/** Ports the reference's behavioral contract (SURVEY §5) to the native
  * table layer: write modes, idempotent overwrite, partition-scoped
  * overwrite (backfill), schema evolution, time travel, commit metadata,
  * stats, and the four merge strategies (run-twice idempotency included).
  */
class TableLayerSpec extends SparkSpec {
  import spark.implicits._

  private def abDf = Seq((1L, 4L), (2L, 5L), (3L, 6L)).toDF("a", "b")

  test("round-trip write/read (a_df contract)") {
    val p = tmpDir("rt")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    val back = GraftTable(spark, p).toDf()
    assert(back.orderBy("a").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 4L), (2L, 5L), (3L, 6L)))
  }

  test("overwrite is idempotent (run twice => same content)") {
    val p = tmpDir("ow")
    (1 to 2).foreach { _ =>
      GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
      assert(GraftTable(spark, p).toDf().count() == 3)
    }
    assert(GraftTable(spark, p).version() == 1)
  }

  test("append accumulates; ignore leaves version unchanged after 5 runs") {
    val p = tmpDir("ai")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Append))
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Append))
    assert(GraftTable(spark, p).toDf().count() == 6)
    (1 to 5).foreach { _ =>
      GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Ignore))
    }
    assert(GraftTable(spark, p).version() == 1)
    assert(GraftTable(spark, p).toDf().count() == 6)
  }

  test("error mode throws on existing table") {
    val p = tmpDir("err")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.ErrorIfExists))
    intercept[IllegalStateException] {
      GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.ErrorIfExists))
    }
  }

  test("partition-scoped overwrite backfills only its own window (daily_partitioned contract)") {
    val p = tmpDir("rw")
    def day(d: String, v: Long) =
      Seq((Timestamp.valueOf(s"$d 00:00:00"), "x", v)).toDF("time", "a", "b")
    val opts = WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("time"))
    GraftWriter.write(spark, day("2022-01-01", 1), p,
      opts.copy(replaceWhere = Some(col("time") === lit(Timestamp.valueOf("2022-01-01 00:00:00")))))
    GraftWriter.write(spark, day("2022-01-02", 2), p,
      opts.copy(replaceWhere = Some(col("time") === lit(Timestamp.valueOf("2022-01-02 00:00:00")))))
    // backfill the OLDER partition with a new value
    GraftWriter.write(spark, day("2022-01-01", 9), p,
      opts.copy(replaceWhere = Some(col("time") === lit(Timestamp.valueOf("2022-01-01 00:00:00")))))
    val t = GraftTable(spark, p)
    val rows = t.toDf().orderBy("time").select("b").as[Long].collect().toSeq
    assert(rows == Seq(9L, 2L))
    // rows violating the predicate are rejected
    intercept[IllegalArgumentException] {
      GraftWriter.write(spark, day("2022-01-03", 3), p,
        opts.copy(replaceWhere = Some(col("time") === lit(Timestamp.valueOf("2022-01-01 00:00:00")))))
    }
  }

  test("static partition overwrite by key (static_partitioned contract)") {
    val p = tmpDir("sp")
    val df = Seq(("red", "r1", 1L), ("blue", "b1", 2L)).toDF("color", "a", "b")
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("color")))
    GraftWriter.write(spark, Seq(("red", "r2", 9L)).toDF("color", "a", "b"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("color"),
        replaceWhere = Some(col("color") === "red")))
    val back = GraftTable(spark, p).toDf().orderBy("color")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(back == Seq(("blue", "b1", 2L), ("red", "r2", 9L)))
  }

  test("CONVERT TO GRAFT adopts an existing parquet layout in place") {
    val p = tmpDir("convert") + "/plain"
    Seq(("red", 1L, 10.0), ("blue", 2L, 20.0), ("red", 3L, 30.0))
      .toDF("color", "id", "v")
      .write.partitionBy("color").parquet(p)
    val v = spark.sql(s"CONVERT TO GRAFT parquet.`$p` PARTITIONED BY (color)")
      .head().getLong(0)
    assert(v == 0L)
    val t = GraftTable(spark, p)
    val snap = t.snapshot()
    assert(snap.partitionColumns == Seq("color"))
    assert(snap.files.forall(_.partitionValues.contains("color")))
    // rows read back through the commit log, typed partition col included
    val rows = t.toDf().select("id", "color", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, "red", 10.0), (2L, "blue", 20.0), (3L, "red", 30.0)))
    // footer stats were captured: id = 2 prunes to the blue file(s)
    assert(t.filesAfterPruning(Seq(DataFilter("id", SkipOp.Eq, 2L)))
      < snap.files.size)
    // the table behaves like any graft table from here on
    GraftWriter.write(spark, Seq(("green", 4L, 40.0)).toDF("color", "id", "v"),
      p, WriteOptions(mode = WriteMode.Append))
    assert(t.toDf().count() == 4)
    assert(t.toDf(versionAsOf = Some(0L)).count() == 3)
    // converting twice, or with the wrong layout, errors loudly
    val e = intercept[Exception] {
      spark.sql(s"CONVERT TO GRAFT parquet.`$p`")
    }
    assert(e.getMessage.contains("already a graft table"), e.getMessage)
  }

  test("dynamic partition overwrite replaces only the partitions written") {
    val p = tmpDir("dpo")
    val df = Seq(("red", "r1", 1L), ("blue", "b1", 2L), ("green", "g1", 3L))
      .toDF("color", "a", "b")
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("color")))
    val beforeBlue = GraftTable(spark, p).snapshot().files
      .filter(_.partitionValues("color") == "blue").map(_.path).toSet
    assert(beforeBlue.nonEmpty)
    GraftWriter.write(spark,
      Seq(("red", "r2", 9L), ("green", "g2", 8L)).toDF("color", "a", "b"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("color"),
        dynamicPartitionOverwrite = true))
    val t = GraftTable(spark, p)
    val back = t.toDf().orderBy("color")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(back == Seq(("blue", "b1", 2L), ("green", "g2", 8L), ("red", "r2", 9L)))
    // the untouched partition kept its physical files (no rewrite)
    val afterBlue = t.snapshot().files
      .filter(_.partitionValues("color") == "blue").map(_.path).toSet
    assert(afterBlue == beforeBlue)
    // replaceWhere and dynamic overwrite are mutually exclusive
    intercept[IllegalArgumentException] {
      GraftWriter.write(spark, df, p,
        WriteOptions(mode = WriteMode.Overwrite,
          replaceWhere = Some(col("color") === "red"),
          dynamicPartitionOverwrite = true))
    }
    // non-overwrite modes reject the flag
    intercept[IllegalArgumentException] {
      GraftWriter.write(spark, df, p,
        WriteOptions(mode = WriteMode.Append, dynamicPartitionOverwrite = true))
    }
  }

  test("dynamic partition overwrite on an unpartitioned table is a full overwrite") {
    val p = tmpDir("dpo_unpart")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, Seq((7L, 7L)).toDF("a", "b"), p,
      WriteOptions(mode = WriteMode.Overwrite, dynamicPartitionOverwrite = true))
    val rows = GraftTable(spark, p).toDf().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((7L, 7L)))
  }

  test("time travel: version 0 reads pre-append state (resource contract)") {
    val p = tmpDir("tt")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, Seq((9L, 9L)).toDF("a", "b"), p,
      WriteOptions(mode = WriteMode.Append))
    val t = GraftTable(spark, p)
    assert(t.toDf().count() == 4)
    assert(t.toDf(versionAsOf = Some(0L)).count() == 3)
  }

  test("merge schema evolution appends source-only columns") {
    val p = tmpDir("msevo")
    val target = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    val source = Seq((2L, 200.0, "x2"), (9L, 90.0, "x9")).toDF("id", "v", "tag")
    // without the flag the extra source column is ignored
    MergeExecutor.merge(spark, source, p,
      MergeConfig(MergeType.Upsert, "s.id = t.id"))
    assert(!GraftTable(spark, p).snapshot().schema.fieldNames.contains("tag"))
    // with it, the schema evolves in the same commit
    MergeExecutor.merge(spark, source, p,
      MergeConfig(MergeType.Upsert, "s.id = t.id", schemaEvolution = true))
    val back = GraftTable(spark, p).toDf()
      .select("id", "v", "tag").collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2))).sortBy(_._1)
    assert(back.toSeq == Seq(
      (1L, 10.0, null), (2L, 200.0, "x2"), (3L, 30.0, null), (9L, 90.0, "x9")))
    // second evolved merge is idempotent on the schema
    MergeExecutor.merge(spark, source, p,
      MergeConfig(MergeType.Upsert, "s.id = t.id", schemaEvolution = true))
    assert(GraftTable(spark, p).snapshot().schema.fieldNames.toSeq
      == Seq("id", "v", "tag"))
  }

  test("schema evolution: merge appends new nullable column") {
    val p = tmpDir("se")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    // without schemaMode: mismatch errors
    intercept[IllegalArgumentException] {
      GraftWriter.write(spark, Seq((4L, 7L, "x")).toDF("a", "b", "c"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    GraftWriter.write(spark, Seq((4L, 7L, "x")).toDF("a", "b", "c"), p,
      WriteOptions(mode = WriteMode.Append, schemaMode = Some(SchemaMode.Merge)))
    val t = GraftTable(spark, p).toDf()
    assert(t.columns.toSeq == Seq("a", "b", "c"))
    assert(t.filter($"c".isNull).count() == 3)
    assert(t.filter($"c" === "x").count() == 1)
  }

  test("create_or_replace drops data and replaces schema") {
    val p = tmpDir("cor")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, Seq(("z", 1.5)).toDF("s", "d"), p,
      WriteOptions(mode = WriteMode.CreateOrReplace))
    val t = GraftTable(spark, p).toDf()
    assert(t.columns.toSeq == Seq("s", "d"))
    assert(t.count() == 1)
  }

  test("commit metadata lands in history; files are zstd parquet") {
    val p = tmpDir("md")
    GraftWriter.write(spark, abDf, p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map("userName" -> "John Doe")))
    val t = GraftTable(spark, p)
    assert(t.history().head.metadata("userName") == "John Doe")
    val files = t.snapshot().files
    assert(files.nonEmpty && files.forall(_.path.contains("zstd")))
  }

  test("stats = files ⋈ add-actions with sums") {
    val p = tmpDir("st")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Append))
    val r = GraftTable(spark, p).stats().collect()(0)
    assert(r.getAs[Long]("num_records") == 6L)
    assert(r.getAs[Long]("size_bytes") > 0L)
  }

  test("optimize compacts small files without changing contents") {
    val p = tmpDir("opt")
    (1 to 5).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val t = GraftTable(spark, p)
    val before = t.toDf().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t.snapshot().files.size == 5)
    val v = GraftWriter.optimize(spark, p)
    assert(v == 5L)
    assert(t.snapshot().files.size == 1)
    assert(t.toDf().collect().map(r => (r.getLong(0), r.getLong(1))).toSet == before)
    // pre-compaction version still time-travels
    assert(t.toDf(Some(4L)).count() == 5)
    // idempotent: nothing left to compact
    assert(GraftWriter.optimize(spark, p) == 5L)
  }

  test("optimize compacts per partition, leaving single-file partitions alone") {
    val p = tmpDir("optp")
    val opts = WriteOptions(mode = WriteMode.Append, partitionBy = Seq("c"),
      clusterByPartition = false)
    GraftWriter.write(spark, Seq(("x", 1L), ("y", 2L)).toDF("c", "b"), p, opts)
    GraftWriter.write(spark, Seq(("x", 3L)).toDF("c", "b"), p, opts)
    val t = GraftTable(spark, p)
    val nX = t.snapshot().files.count(_.partitionValues("c") == "x")
    assert(nX == 2)
    GraftWriter.optimize(spark, p)
    val files = t.snapshot().files
    assert(files.count(_.partitionValues("c") == "x") == 1)
    assert(files.count(_.partitionValues("c") == "y") == 1)
    assert(t.toDf().count() == 3)
  }

  test("vacuum deletes only unreferenced files; retained versions still read") {
    val p = tmpDir("vac")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, Seq((7L, 8L)).toDF("a", "b"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val t = GraftTable(spark, p)
    // retain last 2 versions: v0's files deletable, v1+v2 still readable
    val deleted = t.vacuum(retainVersions = 2)
    assert(deleted.nonEmpty)
    assert(t.toDf(Some(1L)).count() == 3)
    assert(t.toDf().count() == 1)
    intercept[Exception] { t.toDf(Some(0L)).count() } // v0 files gone
    // vacuum again: nothing left to delete
    assert(t.vacuum(retainVersions = 2).isEmpty)
  }

  test("optimizeCluster makes data skipping effective on the clustered column") {
    val p = tmpDir("zord")
    // shuffled keys: every file's [min,max] spans ~the whole domain,
    // so a point filter can skip nothing
    val shuffled = spark.range(0, 4000)
      .select((col("id") * 2654435761L % 4000).as("k"), col("id").as("v"))
      .repartition(8)
    GraftWriter.write(spark, shuffled, p, WriteOptions(mode = WriteMode.Overwrite))
    val t = GraftTable(spark, p)
    val filter = Seq(DataFilter("k", SkipOp.Eq, 1234L))
    val before = t.filesAfterPruning(filter)
    assert(before == t.snapshot().files.size, "pre-clustering: nothing skippable")

    GraftWriter.optimizeCluster(spark, p, Seq("k"), maxRecordsPerFile = 500)
    val after = t.filesAfterPruning(filter)
    assert(t.snapshot().files.size >= 8)
    assert(after == 1, s"post-clustering a point query must read 1 file, got $after")
    // contents unchanged
    assert(t.toDf().agg(sum("v")).first().getLong(0) == (0L until 4000L).sum)
    // time travel to the pre-clustering version still works
    assert(t.toDf(Some(0L)).count() == 4000)
  }

  test("declared clustering is incremental: a second OPTIMIZE touches only new files") {
    import spark.implicits._
    val p = tmpDir("inccluster")
    val floorKey = "spark.graft.optimize.minFileSizeBytes"
    try {
      // files here are a few KB; a 1-byte floor makes "already clustered
      // and large enough" representable at test scale
      spark.conf.set(floorKey, "1")
      (0 until 4).foreach { i =>
        GraftWriter.write(spark,
          (0 until 64).map(j => (j * 4L + i, s"v$j")).toDF("k", "v").coalesce(1),
          p, WriteOptions(mode =
            if (i == 0) WriteMode.Overwrite else WriteMode.Append))
      }
      graft.io.Alter.alter(spark, p,
        props = Map(GraftWriter.ClusterByKey -> "k"))
      // first pass: everything is unmarked -> full range sort, marked adds
      GraftWriter.optimize(spark, p, maxRecordsPerFile = 64)
      val t = GraftTable(spark, p)
      val firstPass = t.snapshot().files
      assert(firstPass.forall(_.clusteredBy.contains("k")))
      assert(t.filesAfterPruning(
        Seq(DataFilter("k", SkipOp.Le, 10L))) == 1)
      // second pass right away: nothing unmarked, nothing small -> no-op
      val vBefore = t.version()
      assert(GraftWriter.optimize(spark, p, maxRecordsPerFile = 64) == vBefore)
      // append new (unclustered) data, then maintain: ONLY the new file
      // sorts into the layout — every first-pass file survives untouched
      GraftWriter.write(spark,
        (256 until 288).map(j => (j.toLong, s"v$j")).toDF("k", "v").coalesce(1),
        p, WriteOptions(mode = WriteMode.Append))
      GraftWriter.optimize(spark, p, maxRecordsPerFile = 64)
      val afterIncr = GraftTable(spark, p).snapshot().files
      val firstPaths = firstPass.map(_.path).toSet
      assert(firstPaths.subsetOf(afterIncr.map(_.path).toSet),
        "incremental pass must not rewrite already-clustered files")
      assert(afterIncr.forall(_.clusteredBy.contains("k")))
      assert(GraftTable(spark, p).toDf().count() == 288)
      // skipping still effective over the mixed old+new layout
      assert(GraftTable(spark, p).filesAfterPruning(
        Seq(DataFilter("k", SkipOp.Le, 10L))) == 1)
      // FULL forces the global re-sort (SQL route): all paths change
      val vFull = spark.sql(s"OPTIMIZE graft.`$p` FULL").head().getLong(0)
      assert(vFull > vBefore)
      val afterFull = GraftTable(spark, p).snapshot().files
      assert(afterFull.map(_.path).toSet.intersect(
        afterIncr.map(_.path).toSet).isEmpty)
      assert(GraftTable(spark, p).toDf().count() == 288)
      // WHERE now works on single-key clusterBy tables (partitioned)
      val pp = tmpDir("incclusterw")
      GraftWriter.write(spark,
        (0 until 64).map(j => (j.toLong, j % 2, s"v$j")).toDF("k", "part", "v"),
        pp, WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("part")))
      graft.io.Alter.alter(spark, pp,
        props = Map(GraftWriter.ClusterByKey -> "k"))
      val scopedV = GraftWriter.optimize(spark, pp,
        where = Some(col("part") === 0))
      assert(scopedV > 0)
      val scoped = GraftTable(spark, pp).snapshot().files
      assert(scoped.filter(_.partitionValues("part") == "0")
        .forall(_.clusteredBy.contains("k")))
      assert(scoped.filter(_.partitionValues("part") == "1")
        .forall(_.clusteredBy.isEmpty))
    } finally spark.conf.unset(floorKey)
  }

  test("autoCompact fires after merge/DML rewrites, not only appends") {
    import spark.implicits._
    val p = tmpDir("acmerge")
    GraftWriter.write(spark,
      (0 until 64).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2),
      p, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(
          GraftWriter.AutoCompactKey -> "true",
          GraftWriter.AutoCompactMinFilesKey -> "2")))
    assert(GraftTable(spark, p).snapshot().files.size >= 2)
    // a COW UPDATE commits through writeCow — the rewrite's post-commit
    // hook must compact the accumulated small files like an append's
    graft.merge.Dml.update(spark, p, col("k") < 10L,
      Map("v" -> org.apache.spark.sql.functions.lit("upd")))
    val files = GraftTable(spark, p).snapshot().files
    assert(files.size == 1,
      s"auto-compact after the DML rewrite must bin-pack, got ${files.size}")
    assert(GraftTable(spark, p).toDf().count() == 64)
    assert(GraftTable(spark, p).toDf()
      .filter(col("v") === "upd").count() == 10)
  }

  test("a sub-floor steady state reaches a fixed point; FULL needs clustering keys") {
    import spark.implicits._
    val p = tmpDir("incclusterfp")
    // DEFAULT size floor (256 MiB): every file at test scale is "small",
    // so after one pass the whole table is an already-clustered small
    // tail — a second pass must be a no-op (re-packing cannot shrink
    // ceil(rows/maxRecordsPerFile) files), not an eternal full rewrite
    (0 until 4).foreach { i =>
      GraftWriter.write(spark,
        (0 until 64).map(j => (j * 4L + i, s"v$j")).toDF("k", "v").coalesce(1),
        p, WriteOptions(mode =
          if (i == 0) WriteMode.Overwrite else WriteMode.Append))
    }
    graft.io.Alter.alter(spark, p,
      props = Map(GraftWriter.ClusterByKey -> "k"))
    GraftWriter.optimize(spark, p, maxRecordsPerFile = 64)
    val files1 = GraftTable(spark, p).snapshot().files.map(_.path).toSet
    assert(files1.size == 4) // 256 rows / 64-row cap
    val v1 = GraftTable(spark, p).version()
    assert(GraftWriter.optimize(spark, p, maxRecordsPerFile = 64) == v1,
      "an already-packed sub-floor layout must not rewrite again")
    assert(GraftTable(spark, p).snapshot().files.map(_.path).toSet == files1)
    // the tail DOES re-pack when it shrinks: a higher cap merges 4 -> 1
    val v2 = GraftWriter.optimize(spark, p)
    assert(v2 > v1)
    assert(GraftTable(spark, p).snapshot().files.size == 1)
    // PARTITIONED fixed point: one small clustered file per partition
    // is already packed — the rewrite can never merge across partition
    // dirs, so a table-wide ceil must not claim it shrinks
    val pp = tmpDir("incclusterpfp")
    GraftWriter.write(spark,
      (0 until 96).map(j => (j.toLong, j % 3, s"v$j")).toDF("k", "part", "v"),
      pp, WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("part")))
    graft.io.Alter.alter(spark, pp,
      props = Map(GraftWriter.ClusterByKey -> "k"))
    GraftWriter.optimize(spark, pp)
    val ppFiles = GraftTable(spark, pp).snapshot().files.map(_.path).toSet
    val ppV = GraftTable(spark, pp).version()
    assert(GraftWriter.optimize(spark, pp) == ppV,
      "one packed file per partition must be a no-op, not an eternal rewrite")
    assert(GraftTable(spark, pp).snapshot().files.map(_.path).toSet == ppFiles)
    // FULL on a table with no clustering keys is refused, not degraded
    val plain = tmpDir("fullplain")
    GraftWriter.write(spark, (0 until 8).map(i => (i.toLong, s"$i"))
      .toDF("k", "v"), plain, WriteOptions(mode = WriteMode.Overwrite))
    val e = intercept[IllegalArgumentException] {
      GraftWriter.optimize(spark, plain, full = true)
    }
    assert(e.getMessage.contains("requires clustering keys"), e.getMessage)
  }

  test("z-order clustering prunes selective predicates on ANY clustered column") {
    val p = tmpDir("zord")
    val df = spark.range(0, 65536).select(
      col("id").as("k1"),
      ((col("id") * 2654435761L) % 65536).as("k2"), // decorrelated from k1
      col("id").as("v"))
    GraftWriter.write(spark, df.repartition(16), p,
      WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.optimizeZOrder(spark, p, Seq("k1", "k2"),
      maxRecordsPerFile = 4096)
    val t = GraftTable(spark, p)
    val nFiles = t.snapshot().files.size
    assert(nFiles >= 12, s"expected ~16 clustered files, got $nFiles")
    // contents unchanged
    assert(t.toDf().count() == 65536)
    assert(t.toDf().agg(sum("v")).first().getLong(0) == 65535L * 65536 / 2)
    def filesFor(c: String) = t.filesAfterPruning(Seq(
      DataFilter(c, SkipOp.Ge, 30000L), DataFilter(c, SkipOp.Lt, 30100L)))
    // a narrow range on EITHER dimension alone reads a minority of files —
    // the hierarchical (k1, k2) sort would read every file for k2 alone.
    // Bound is deliberately loose: approxQuantile's summary-merge order
    // shifts cut points slightly between runs, moving one or two
    // boundary files in or out.
    assert(filesFor("k1") <= nFiles * 2 / 3, s"k1 pruning weak: ${filesFor("k1")}/$nFiles")
    assert(filesFor("k2") <= nFiles * 2 / 3, s"k2 pruning weak: ${filesFor("k2")}/$nFiles")
  }

  test("age-based vacuum: retention guard, live version untouchable, old tombstones deleted") {
    val p = tmpDir("vaca")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark, Seq((7L, 8L)).toDF("a", "b"), p,
      WriteOptions(mode = WriteMode.Overwrite)) // v0's files become tombstones
    val t = GraftTable(spark, p)

    // retention below the 7-day floor is refused unless overridden
    intercept[IllegalArgumentException] { t.vacuumOlderThan(1000L) }

    // nothing old enough yet: tombstones are younger than the cutoff
    assert(t.vacuumOlderThan(60000L, enforceRetention = false).isEmpty)

    // pretend a week passed: v0 tombstones now vacuum; live files survive
    val future = System.currentTimeMillis() + GraftTable.MinRetentionMillis + 60000
    // dry run reports the doomed set without deleting anything
    val wouldDelete = t.vacuumOlderThan(GraftTable.MinRetentionMillis,
      nowMs = future, dryRun = true)
    assert(wouldDelete.nonEmpty && t.toDf(Some(0L)).count() == 3)
    val deleted = t.vacuumOlderThan(GraftTable.MinRetentionMillis, nowMs = future)
    assert(deleted.toSet == wouldDelete.toSet)
    assert(t.toDf().count() == 1) // live version intact
    intercept[Exception] { t.toDf(Some(0L)).count() } // v0 files gone
    // idempotent: nothing left to delete, live files never touched
    assert(t.vacuumOlderThan(0L, nowMs = future, enforceRetention = false).isEmpty)
    assert(t.toDf().count() == 1)
  }

  private def target = Seq((1L, "t1"), (2L, "t2"), (3L, "t3")).toDF("k", "v")
  private def source = Seq((2L, "s2"), (4L, "s4")).toDF("k", "v")
  private def cfg(mt: MergeType) = MergeConfig(mt, "s.k = t.k")
  private def contents(p: String): Set[(Long, String)] =
    GraftTable(spark, p).toDf().collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("merge update_only") {
    val p = tmpDir("mu")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    MergeExecutor.merge(spark, source, p, cfg(MergeType.UpdateOnly))
    assert(contents(p) == Set((1L, "t1"), (2L, "s2"), (3L, "t3")))
  }

  test("merge deduplicate_insert is idempotent") {
    val p = tmpDir("mdi")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    (1 to 2).foreach { _ =>
      MergeExecutor.merge(spark, source, p, cfg(MergeType.DeduplicateInsert))
      assert(contents(p) == Set((1L, "t1"), (2L, "t2"), (3L, "t3"), (4L, "s4")))
    }
  }

  test("merge upsert is idempotent") {
    val p = tmpDir("mup")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    (1 to 2).foreach { _ =>
      val stats = MergeExecutor.merge(spark, source, p, cfg(MergeType.Upsert))
      assert(contents(p) == Set((1L, "t1"), (2L, "s2"), (3L, "t3"), (4L, "s4")))
      assert(stats.numSourceRows == 2L)
      assert(stats.numOutputRows == 4L)
    }
  }

  test("merge replace_delete_unmatched keeps only matched source rows") {
    val p = tmpDir("mrd")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    MergeExecutor.merge(spark, source, p, cfg(MergeType.ReplaceDeleteUnmatched))
    assert(contents(p) == Set((2L, "s2")))
  }

  test("maxRecordsPerFile splits a clustered partition's output into bounded files") {
    val p = tmpDir("mrpf")
    GraftWriter.write(spark,
      spark.range(0, 1000).select(col("id").as("a"), lit("x").as("pt")),
      p, WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt"),
        maxRecordsPerFile = 250))
    val files = GraftTable(spark, p).snapshot().files
    assert(files.size == 4, s"expected 4 capped files, got ${files.size}")
    assert(files.forall(_.numRecords <= 250))
  }

  test("failOnMultipleMatches rejects ambiguous updates (Delta parity)") {
    val p = tmpDir("mfm")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    val dupSource = Seq((2L, "s2a"), (2L, "s2b")).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      MergeExecutor.merge(spark, dupSource, p,
        cfg(MergeType.Upsert).copy(failOnMultipleMatches = true))
    }
    assert(e.getMessage.contains("multiple"))
    // unique-match source still merges fine with the flag on
    MergeExecutor.merge(spark, source, p,
      cfg(MergeType.Upsert).copy(failOnMultipleMatches = true))
    assert(contents(p) == Set((1L, "t1"), (2L, "s2"), (3L, "t3"), (4L, "s4")))
  }

  test("multi-clause merge: conditional update, delete, guarded insert") {
    val p = tmpDir("mcl")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    val src = Seq((1L, "s1"), (2L, "s2"), (4L, "s4"), (5L, "s5")).toDF("k", "v")
    MergeClausesExecutor.merge(spark, src, p, "s.k = t.k",
      matched = Seq(
        Delete(Some(expr("s.v = 's2'"))), // first applicable clause wins
        UpdateAll()),
      notMatched = Seq(
        InsertValues(Map("k" -> col("s.k"), "v" -> lit("ins")),
          Some(expr("s.k = 4")))))
    // k=1 updated, k=2 deleted, k=3 untouched, k=4 inserted, k=5 dropped
    assert(contents(p) == Set((1L, "s1"), (3L, "t3"), (4L, "ins")))
  }

  test("multi-clause merge: not-matched-by-source clauses") {
    val p = tmpDir("mclb")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    val src = Seq((2L, "s2")).toDF("k", "v")
    MergeClausesExecutor.merge(spark, src, p, "s.k = t.k",
      matched = Seq(UpdateAll()),
      notMatchedBySource = Seq(
        UpdateSet(Map("v" -> concat(col("t.v"), lit("!"))), Some(expr("t.k = 1"))),
        Delete()))
    // k=1 annotated, k=2 updated from source, k=3 deleted (by-source)
    assert(contents(p) == Set((1L, "t1!"), (2L, "s2")))
  }

  test("multi-clause merge auto-creates a missing target") {
    val p = tmpDir("mclc") + "/t"
    MergeClausesExecutor.merge(spark, source, p, "s.k = t.k",
      notMatched = Seq(InsertAll()))
    assert(contents(p) == Set((2L, "s2"), (4L, "s4")))
  }

  test("multi-clause insert-only merge is a pure append") {
    val p = tmpDir("mcli")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    val before = GraftTable(spark, p).snapshot().files.map(_.path).toSet
    MergeClausesExecutor.merge(spark, Seq((9L, "s9")).toDF("k", "v"), p,
      "s.k = t.k", notMatched = Seq(InsertAll()))
    val t = GraftTable(spark, p)
    assert(contents(p) == Set((1L, "t1"), (2L, "t2"), (3L, "t3"), (9L, "s9")))
    assert(t.history().head.operationMetrics("num_removed_files") == 0L)
    assert(before.subsetOf(t.snapshot().files.map(_.path).toSet))
  }

  test("merge rejects type mismatches unless disabled") {
    val p = tmpDir("mtm")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    val badSource = Seq((2, "s2")).toDF("k", "v") // k int, target k long
    intercept[IllegalArgumentException] {
      MergeExecutor.merge(spark, badSource, p, cfg(MergeType.Upsert))
    }
  }

  test("merge auto-creates missing target from source schema") {
    val p = tmpDir("mac")
    MergeExecutor.merge(spark, source, p, cfg(MergeType.Upsert))
    assert(contents(p) == Set((2L, "s2"), (4L, "s4")))
  }

  test("merge with partition scope leaves out-of-scope rows untouched") {
    val p = tmpDir("mps")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    // scope to k <= 2: the k=4 source row inserts, k=2 updates, but a
    // replace_delete_unmatched confined to k<=2 must keep k=3
    MergeExecutor.merge(spark, source, p,
      cfg(MergeType.ReplaceDeleteUnmatched).copy(partitionFilter = Some(col("k") <= 2)))
    assert(contents(p) == Set((2L, "s2"), (3L, "t3")))
  }

  test("replace_delete_unmatched replaces per matched target row (clause semantics)") {
    val p = tmpDir("mrddup")
    // the target holds k=1 twice: UPDATE ALL replaces each matched target
    // row, so the source row comes out once per match (delta-rs / Delta)
    GraftWriter.write(spark,
      Seq((1L, "a"), (1L, "b"), (2L, "c"), (3L, "d")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    MergeExecutor.merge(spark, Seq((1L, "s1"), (2L, "s2")).toDF("k", "v"), p,
      cfg(MergeType.ReplaceDeleteUnmatched))
    val rows = GraftTable(spark, p).toDf().collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(rows == Seq((1L, "s1"), (1L, "s1"), (2L, "s2")))
  }

  test("a scoped replace_delete_unmatched rewrites only files holding in-scope rows") {
    val p = tmpDir("mrdscope")
    // four single-key files; the scope k <= 2 is not partition-aligned
    Seq(1L, 2L, 3L, 4L).foreach { k =>
      GraftWriter.write(spark, Seq((k, s"t$k")).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val snap0 = GraftTable(spark, p).snapshot()
    val before = snap0.files
    val inScope = before.filter(f => GraftTable(spark, p)
      .dfForFiles(snap0, Seq(f)).filter(col("k") <= 2).count() > 0)
    assert(before.size == 4 && inScope.size == 2)
    MergeExecutor.merge(spark, Seq((2L, "s2")).toDF("k", "v"), p,
      cfg(MergeType.ReplaceDeleteUnmatched).copy(partitionFilter = Some(col("k") <= 2)))
    val t = GraftTable(spark, p)
    assert(contents(p) == Set((2L, "s2"), (3L, "t3"), (4L, "t4")))
    assert(t.history().head.operationMetrics("num_removed_files") == inScope.size.toLong)
    val after = t.snapshot().files.map(_.path).toSet
    assert(before.filterNot(inScope.contains).map(_.path).forall(after))
  }

  test("partition-scoped merge rewrites only in-scope partitions' files") {
    val p = tmpDir("mcowp")
    val part = Seq((1L, "t1", "a"), (2L, "t2", "a"), (3L, "t3", "b"), (4L, "t4", "c"))
      .toDF("k", "v", "pt")
    GraftWriter.write(spark, part, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt")))
    val before = GraftTable(spark, p).snapshot()
    val outOfScopePaths = before.files.filter(_.partitionValues("pt") != "a").map(_.path).toSet
    val totalFiles = before.files.size

    val src = Seq((2L, "s2", "a"), (9L, "s9", "a")).toDF("k", "v", "pt")
    MergeExecutor.merge(spark, src, p,
      MergeConfig(MergeType.Upsert, "s.k = t.k",
        partitionFilter = Some(col("pt") === "a")))

    val t = GraftTable(spark, p)
    assert(t.toDf().collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "t1"), (2L, "s2"), (3L, "t3"), (4L, "t4"), (9L, "s9")))
    val commit = t.history().head
    assert(commit.operationMetrics("num_removed_files") < totalFiles,
      "a partition-confined merge must not rewrite the whole table")
    // out-of-scope partitions keep their exact physical files
    val after = t.snapshot().files.map(_.path).toSet
    assert(outOfScopePaths.subsetOf(after))
  }

  test("restore rolls back content, schema and partitioning as a new commit") {
    val p = tmpDir("restore")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    val v0Files = GraftTable(spark, p).snapshot().files.map(_.path).toSet
    // corrupt: overwrite with different schema + extra column
    GraftWriter.write(spark,
      Seq((9L, 9L)).toDF("a", "b").withColumn("c", lit("x")), p,
      WriteOptions(mode = WriteMode.Overwrite,
        schemaMode = Some(SchemaMode.Overwrite)))
    val t = GraftTable(spark, p)
    val v = t.restore(0L)
    assert(v == 2L) // restore is a NEW commit, history preserved
    assert(t.toDf().orderBy("a").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 4L), (2L, 5L), (3L, 6L)))
    assert(t.snapshot().schema.fieldNames.toSeq == Seq("a", "b"))
    assert(t.snapshot().files.map(_.path).toSet == v0Files) // same physical files
    assert(t.toDf(Some(1L)).columns.contains("c")) // bad version still travelable
    val c = t.history().head
    assert(c.operation == "RESTORE" && c.metadata("restored_version") == "0")
    // restore refuses when the target's files were vacuumed away
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    t.vacuum(retainVersions = 1)
    intercept[IllegalArgumentException] { t.restore(1L) }
  }

  test("tableChanges reads churn only and nets out carried-over rows") {
    val p = tmpDir("cdf")
    // three single-key files so the COW merge touches exactly one
    Seq(1L, 2L, 3L).foreach { k =>
      GraftWriter.write(spark, Seq((k, s"v$k", k * 10L)).toDF("k", "v", "x"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    MergeExecutor.merge(spark, Seq((2L, "UPDATED", 20L)).toDF("k", "v", "x"), p,
      MergeConfig(MergeType.Upsert, "s.k = t.k"))
    val t = GraftTable(spark, p)
    val ch = t.tableChanges(2L, t.version()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(3))).toSet
    assert(ch == Set((2L, "v2", "delete"), (2L, "UPDATED", "insert")))
    // append-only range: pure inserts
    val ins = t.tableChanges(0L, 2L).collect()
      .map(r => (r.getLong(0), r.getString(3))).toSet
    assert(ins == Set((2L, "insert"), (3L, "insert")))
    // no-op range: empty
    assert(t.tableChanges(t.version(), t.version()).count() == 0)
  }

  test("describe detail and history dataframes summarize the table") {
    val p = tmpDir("detail")
    GraftWriter.write(spark, abDf, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("a")))
    GraftWriter.addCheckConstraint(spark, p, "b_pos", "b > 0")
    val t = GraftTable(spark, p)
    val d = t.detail().first()
    assert(d.getAs[String]("format") == "graft")
    assert(d.getAs[Long]("version") == 1L)
    assert(d.getAs[Long]("num_records") == 3L)
    assert(d.getAs[String]("partition_columns") == "a")
    assert(d.getAs[String]("properties").contains("b_pos=b > 0"))
    val h = t.historyDf().collect()
    assert(h.length == 2 && h.head.getAs[Long]("version") == 1L)
    assert(h.last.getAs[String]("operation") == "WRITE")
  }

  test("stale-snapshot commits are compare-and-swapped, not silently applied") {
    val p = tmpDir("cas")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite)) // v0
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Append))    // v1
    val log = new graft.log.CommitLog(p, spark.sessionState.newHadoopConf())
    val ddl = GraftTable(spark, p).snapshot().schema.toDDL
    // a commit derived from v0 must conflict now that v1 exists
    intercept[java.util.ConcurrentModificationException] {
      log.commit("X", "cow", ddl, Nil, Map.empty, Map.empty, Nil, Nil,
        expectedVersion = Some(0L))
    }
    // the matching expectation lands at exactly expected+1
    val v = log.commit("X", "metadata", ddl, Nil, Map.empty, Map.empty, Nil, Nil,
      expectedVersion = Some(1L))
    assert(v == 2L)
  }

  test("CHECK constraints: add validates, writes enforce, drop lifts, carry across commits") {
    val p = tmpDir("constraints")
    GraftWriter.write(spark, Seq((Option(1L), Option(10L))).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.addCheckConstraint(spark, p, "v_positive", "v > 0")
    // adding a constraint existing data violates is refused
    intercept[IllegalArgumentException] {
      GraftWriter.addCheckConstraint(spark, p, "v_big", "v > 100")
    }
    // violating append refused, error names the constraint
    val ex = intercept[IllegalArgumentException] {
      GraftWriter.write(spark, Seq((Option(2L), Option(-5L))).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    assert(ex.getMessage.contains("v_positive"))
    // valid append passes; the property survives unrelated commits
    GraftWriter.write(spark, Seq((Option(2L), Option(5L))).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))
    GraftWriter.optimize(spark, p)
    assert(GraftWriter.checkConstraints(spark, p) == Map("v_positive" -> "v > 0"))
    // NULL passes (SQL CHECK semantics)
    GraftWriter.write(spark, Seq((Option(3L), Option.empty[Long])).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))
    // copy-on-write paths (DML/merge) enforce too
    intercept[IllegalArgumentException] {
      Dml.update(spark, p, col("k") === 1L, Map("v" -> lit(-1L)))
    }
    // drop lifts enforcement
    GraftWriter.dropCheckConstraint(spark, p, "v_positive")
    GraftWriter.write(spark, Seq((Option(4L), Option(-4L))).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))
    assert(GraftWriter.checkConstraints(spark, p).isEmpty)
    assert(GraftTable(spark, p).toDf().count() == 4)
  }

  test("DELETE and UPDATE rewrite only files containing matches") {
    val p = tmpDir("dml")
    // three single-key physical files
    Seq(1L, 2L, 3L).foreach { k =>
      GraftWriter.write(spark, Seq((k, s"v$k")).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val before = GraftTable(spark, p).snapshot().files.map(_.path).toSet

    val del = Dml.delete(spark, p, col("k") === 2L)
    assert(del.numAffectedFiles == 1L)
    assert(contents(p) == Set((1L, "v1"), (3L, "v3")))
    val afterDel = GraftTable(spark, p).snapshot().files.map(_.path).toSet
    assert((before intersect afterDel).size == 2, "untouched files survive verbatim")

    val upd = Dml.update(spark, p, col("k") === 3L, Map("v" -> lit("UPDATED")))
    assert(upd.numAffectedFiles == 1L)
    assert(contents(p) == Set((1L, "v1"), (3L, "UPDATED")))

    // no matches: metadata no-op, no new commit files
    val v = GraftTable(spark, p).version()
    val noop = Dml.delete(spark, p, col("k") === 99L)
    assert(noop.numAffectedFiles == 0L && GraftTable(spark, p).version() == v)

    // NULL condition rows are out of scope for both commands
    GraftWriter.write(spark,
      Seq((Option.empty[Long], "vnull")).toDF("k", "v"), p,
      WriteOptions(mode = WriteMode.Append))
    Dml.delete(spark, p, col("k") > 0L)
    val left = GraftTable(spark, p).toDf().select("v").as[String].collect().toSet
    assert(left == Set("vnull"))

    // unknown SET column errors before any write
    intercept[IllegalArgumentException] {
      Dml.update(spark, p, lit(true), Map("nope" -> lit(1)))
    }
  }

  test("merge scope filter is null-safe: NULL-scope rows in touched files survive") {
    val p = tmpDir("mnullscope")
    // one physical file holding an in-scope row (k=2), an out-of-scope row
    // (k=5), and a row where the scope predicate evaluates to NULL (k=null).
    // The NULL row is out of scope and must be carried over, not dropped.
    val tgt = Seq((Option(2L), "t2"), (Option(5L), "t5"), (Option.empty[Long], "tn"))
      .toDF("k", "v")
    GraftWriter.write(spark, tgt.coalesce(1), p, WriteOptions(mode = WriteMode.Overwrite))
    MergeExecutor.merge(spark, Seq((2L, "s2")).toDF("k", "v"), p,
      MergeConfig(MergeType.Upsert, "s.k = t.k",
        partitionFilter = Some(col("k") <= 2)))
    val rows = GraftTable(spark, p).toDf().collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1))).toSet
    assert(rows == Set((Some(2L), "s2"), (Some(5L), "t5"), (None, "tn")))
  }

  test("not-matched-by-source permits only UPDATE SET / DELETE over target columns") {
    val p = tmpDir("mcbsneg")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    // UPDATE ALL would null every column (source side is all-NULL there)
    intercept[IllegalArgumentException] {
      MergeClausesExecutor.merge(spark, source, p, "s.k = t.k",
        notMatchedBySource = Seq(UpdateAll()))
    }
    // source references in by-source SET expressions are NULL too —
    // whether built from col(), expr(), or an unqualified source-only name
    intercept[IllegalArgumentException] {
      MergeClausesExecutor.merge(spark, source, p, "s.k = t.k",
        notMatchedBySource = Seq(UpdateSet(Map("v" -> col("s.v")))))
    }
    intercept[IllegalArgumentException] {
      MergeClausesExecutor.merge(spark, source, p, "s.k = t.k",
        notMatchedBySource = Seq(UpdateSet(Map("v" -> expr("concat(s.v, '!')")))))
    }
    // alias case-insensitively (Spark's resolver is)
    intercept[IllegalArgumentException] {
      MergeClausesExecutor.merge(spark, source, p, "s.k = t.k",
        notMatchedBySource = Seq(UpdateSet(Map("v" -> col("S.v")))))
    }
    // unqualified source-only column names resolve against the source
    intercept[IllegalArgumentException] {
      MergeClausesExecutor.merge(spark, source.withColumn("src_only", lit("x")),
        p, "s.k = t.k",
        notMatchedBySource = Seq(UpdateSet(Map("v" -> col("src_only")))))
    }
    // the legal shape still works: target-only SET
    MergeClausesExecutor.merge(spark, source, p, "s.k = t.k",
      matched = Seq(UpdateAll()),
      notMatchedBySource = Seq(UpdateSet(Map("v" -> lit("stale")))))
    assert(contents(p) == Set((1L, "stale"), (2L, "s2"), (3L, "stale")))
  }

  test("merge copy-on-write touches only files containing matches") {
    val p = tmpDir("mcowf")
    // three appends => three physical files, one key each
    Seq(1L, 2L, 3L).foreach { k =>
      GraftWriter.write(spark, Seq((k, s"t$k")).toDF("k", "v"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val before = GraftTable(spark, p).snapshot()
    assert(before.files.size == 3)

    MergeExecutor.merge(spark, Seq((2L, "s2")).toDF("k", "v"), p,
      MergeConfig(MergeType.Upsert, "s.k = t.k"))
    val t = GraftTable(spark, p)
    assert(contents(p) == Set((1L, "t1"), (2L, "s2"), (3L, "t3")))
    val commit = t.history().head
    assert(commit.operationMetrics("num_removed_files") == 1L,
      "only the file containing k=2 should be rewritten")
    // the two untouched files survive physically identical
    val after = t.snapshot().files.map(_.path).toSet
    assert(before.files.map(_.path).count(after) == 2)
  }

  test("merge deduplicate_insert appends without rewriting any file") {
    val p = tmpDir("mcowd")
    GraftWriter.write(spark, target, p, WriteOptions(mode = WriteMode.Overwrite))
    val before = GraftTable(spark, p).snapshot().files.map(_.path).toSet
    MergeExecutor.merge(spark, source, p, cfg(MergeType.DeduplicateInsert))
    val t = GraftTable(spark, p)
    assert(contents(p) == Set((1L, "t1"), (2L, "t2"), (3L, "t3"), (4L, "s4")))
    assert(t.history().head.operationMetrics("num_removed_files") == 0L)
    assert(before.subsetOf(t.snapshot().files.map(_.path).toSet))
  }

  test("checkpointed log: 100+ commits replay through the checkpoint with identical contents") {
    import graft.log.CommitLog
    val p = tmpDir("ckpt")
    (0 until 104).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong * 2)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    assert(log.checkpointVersions().contains(100L))
    val full = GraftTable(spark, p).toDf().collect().map(_.getLong(0)).sorted
    assert(full.toSeq == (0L until 104L))

    // prove the checkpoint path is actually used: drop every commit file
    // below the newest checkpoint — replay must still reconstruct the
    // full live set from ckpt-100 + commits 100..103
    val fs = log.fs
    (0L until 100L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(p, f"_graft_log/v$v%010d.json"), false)
    }
    val viaCkpt = GraftTable(spark, p).toDf().collect().map(_.getLong(0)).sorted
    assert(viaCkpt.toSeq == (0L until 104L),
      "snapshot through the checkpoint must equal the fully-replayed contents")
    // time travel within the surviving suffix also works
    assert(GraftTable(spark, p).toDf(Some(102L)).count() == 103)
  }

  test("sharded checkpoints replay identically; a corrupt shard falls back loudly-or-older") {
    import graft.log.CommitLog
    import org.apache.hadoop.fs.Path
    val p = tmpDir("ckpt_shard")
    (0 until 12).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong * 2)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val conf = spark.sessionState.newHadoopConf()
    // force the sharded form: 12 live files at 5 records/shard = 3 shards
    val shardLog = new CommitLog(p, conf, checkpointShardRecords = 5)
    shardLog.writeCheckpoint(11L)
    val fs = shardLog.fs
    assert(fs.exists(new Path(p, "_graft_log/ckpt-v0000000011.manifest")))
    (0 to 2).foreach { i =>
      assert(fs.exists(new Path(p, f"_graft_log/ckpt-v0000000011.shard-$i%05d.gz")))
    }
    // a DEFAULT log (no threshold override) reads the sharded form
    val log = new CommitLog(p, conf)
    assert(log.checkpointVersions().contains(11L))
    assert(log.readCheckpoint(11L).files.size == 12)
    // drop commits below the auto gz checkpoint at v10: replay must go
    // through a checkpoint and still reconstruct everything
    (0L until 10L).foreach { v =>
      fs.delete(new Path(p, f"_graft_log/v$v%010d.json"), false)
    }
    assert(GraftTable(spark, p).toDf().collect().map(_.getLong(0)).sorted
      .toSeq == (0L until 12L))
    // corrupt one shard: the sharded checkpoint becomes unreadable and
    // replay FALLS BACK to the older gz checkpoint (v10) + suffix
    val bad = fs.create(new Path(p, "_graft_log/ckpt-v0000000011.shard-00001.gz"), true)
    try bad.write("not gzip".getBytes("UTF-8")) finally bad.close()
    assert(GraftTable(spark, p).toDf().collect().map(_.getLong(0)).sorted
      .toSeq == (0L until 12L))
    // with no surviving readable checkpoint at all, replay fails LOUDLY
    fs.delete(new Path(p, "_graft_log/ckpt-v0000000010.json.gz"), false)
    val ex = intercept[IllegalArgumentException] {
      GraftTable(spark, p).toDf().count()
    }
    assert(ex.getMessage.contains("no readable checkpoint"))
  }

  test("a shard-count mismatch is detected, never a silently smaller live set") {
    import graft.log.CommitLog
    import org.apache.hadoop.fs.Path
    val p = tmpDir("ckpt_shard_mix")
    (0 until 9).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val conf = spark.sessionState.newHadoopConf()
    val shardLog = new CommitLog(p, conf, checkpointShardRecords = 4)
    shardLog.writeCheckpoint(8L) // 9 files -> shards of 4,4,1
    val fs = shardLog.fs
    // simulate shard loss: replace a shard with a VALID but short one
    val gz = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(gz)
    try out.write("[]".getBytes("UTF-8")) finally out.close()
    val f = fs.create(new Path(p, "_graft_log/ckpt-v0000000008.shard-00001.gz"), true)
    try f.write(gz.toByteArray) finally f.close()
    val ex = intercept[Exception] { shardLog.readCheckpoint(8L) }
    assert(ex.getMessage.contains("shard"),
      s"expected a shard-count error, got: ${ex.getMessage}")
  }

  /** A metadata-only table of `n` add actions (no parquet behind them),
    * committed 1,000 at a time with checkpoints off.
    */
  private def metadataTable(p: String, n: Int): graft.log.Snapshot = {
    import graft.log.{AddFile, CommitLog, FileColStat}
    val log = new CommitLog(p, spark.sessionState.newHadoopConf(), checkpointInterval = 0)
    (0 until n).grouped(1000).foreach { g =>
      log.commit("WRITE", "Append", "id BIGINT, p BIGINT", Seq("p"), Map.empty, Map.empty,
        g.map(i => AddFile(f"p=${i % 10}/part-$i%06d.parquet", Map("p" -> (i % 10).toString),
          1024L, 10L, 1L, stats = Map("id" -> FileColStat(Some(s"$i"), Some(s"$i"), 0L)))),
        Nil)
    }
    log.snapshot()
  }

  /** The log's file names after checkpointing `snap` with `log`, then
    * the table reopened by a default log with every commit below the
    * checkpoint deleted, so the open must go through it.
    */
  private def checkpointAndReopen(
      p: String,
      snap: graft.log.Snapshot,
      log: graft.log.CommitLog): (Seq[String], graft.log.Snapshot) = {
    import org.apache.hadoop.fs.Path
    val v = snap.version
    log.writeCheckpoint(v)
    val fs = log.fs
    val names = fs.listStatus(log.logDir).toSeq.map(_.getPath.getName)
    (0L until v).foreach(u => fs.delete(new Path(log.logDir, f"v$u%010d.json"), false))
    val reopened = new graft.log.CommitLog(p, spark.sessionState.newHadoopConf()).snapshot()
    assert(reopened.commits.map(_.version) == Seq(v), "the open replayed from the checkpoint")
    assert(reopened.files == snap.files)
    (names.filter(_.startsWith(f"ckpt-v$v%010d")), reopened)
  }

  test("a table past one checkpoint shard writes a manifest and at least 4 shards, and reopens identically") {
    import graft.log.CommitLog
    val p = tmpDir("ckpt_default_shards")
    val snap = metadataTable(p, 4 * CommitLog.DefaultCheckpointShardRecords + 1)
    val (ckpt, _) = checkpointAndReopen(p, snap,
      new CommitLog(p, spark.sessionState.newHadoopConf()))
    val v = snap.version
    assert(ckpt.contains(f"ckpt-v$v%010d.manifest"))
    assert(!ckpt.contains(f"ckpt-v$v%010d.json.gz"))
    assert(ckpt.count(_.contains(".shard-")) >= 4, ckpt.mkString(", "))
  }

  test("a single-document checkpoint above the shard threshold, as the older default wrote, still opens") {
    import graft.log.CommitLog
    val p = tmpDir("ckpt_old_single")
    val snap = metadataTable(p, 2 * CommitLog.DefaultCheckpointShardRecords)
    // the pre-sharding default threshold: one document of every file
    val (ckpt, _) = checkpointAndReopen(p, snap,
      new CommitLog(p, spark.sessionState.newHadoopConf(), checkpointShardRecords = 100000))
    assert(ckpt == Seq(f"ckpt-v${snap.version}%010d.json.gz"))
  }

  test("a table of at most one shard keeps the single-document checkpoint") {
    import graft.log.CommitLog
    val p = tmpDir("ckpt_one_shard")
    val snap = metadataTable(p, CommitLog.DefaultCheckpointShardRecords)
    val (ckpt, _) = checkpointAndReopen(p, snap,
      new CommitLog(p, spark.sessionState.newHadoopConf()))
    assert(ckpt == Seq(f"ckpt-v${snap.version}%010d.json.gz"))
  }

  test("OPTIMIZE bin-packs: already-large files are never rewritten") {
    val p = tmpDir("binpack")
    // two "large" appends and three small ones (size floor forced tiny
    // via the session conf so the test can distinguish them)
    GraftWriter.write(spark,
      spark.range(0, 5000).select(col("id"), lit("x").as("s")), p,
      WriteOptions(mode = WriteMode.Overwrite, maxRecordsPerFile = 2500))
    val large = GraftTable(spark, p).snapshot().files.map(_.path).toSet
    (0 until 3).foreach { i =>
      GraftWriter.write(spark, Seq((10000L + i, "y")).toDF("id", "s"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val largeBytes = GraftTable(spark, p).snapshot().files
      .filter(f => large(f.path)).map(_.sizeBytes).min
    spark.conf.set("spark.graft.optimize.minFileSizeBytes",
      (largeBytes - 1).toString)
    try {
      GraftWriter.optimize(spark, p)
      val after = GraftTable(spark, p).snapshot().files
      // the large generation survives untouched; the 3 small files
      // became 1
      assert(large.subsetOf(after.map(_.path).toSet),
        "OPTIMIZE rewrote already-large files")
      assert(after.size == large.size + 1, after.map(_.path))
      assert(GraftTable(spark, p).toDf().count() == 5003)
      // idempotent: a second pass finds nothing to do (no new commit)
      val v = GraftTable(spark, p).version()
      GraftWriter.optimize(spark, p)
      assert(GraftTable(spark, p).version() == v)
    } finally spark.conf.unset("spark.graft.optimize.minFileSizeBytes")
  }

  test("auto-compaction collapses small-file build-up in touched partitions only") {
    // unpartitioned: 4 appends at minFiles=4 -> compaction fires
    val p = tmpDir("autocompact")
    GraftWriter.write(spark, Seq((0L, "x")).toDF("k", "s"), p,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(GraftWriter.AutoCompactKey -> "true",
          GraftWriter.AutoCompactMinFilesKey -> "4")))
    (1 to 3).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, "x")).toDF("k", "s"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val t = GraftTable(spark, p)
    assert(t.snapshot().files.size == 1,
      s"expected 1 compacted file, got ${t.snapshot().files.size}")
    assert(t.toDf().count() == 4)
    assert(t.history().exists(_.operation == "OPTIMIZE"))
    // partitioned: only the partition that crossed the threshold compacts
    val pp = tmpDir("autocompact_part")
    GraftWriter.write(spark,
      Seq((0L, "hot"), (0L, "cold")).toDF("k", "pt"), pp,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt"),
        metadata = Map(GraftWriter.AutoCompactKey -> "true",
          GraftWriter.AutoCompactMinFilesKey -> "3")))
    (1 to 2).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, "hot")).toDF("k", "pt"), pp,
        WriteOptions(mode = WriteMode.Append))
    }
    val byPart = GraftTable(spark, pp).snapshot().files
      .groupBy(_.partitionValues.get("pt"))
    assert(byPart(Some("hot")).size == 1,
      s"hot partition should be compacted: ${byPart.view.mapValues(_.size).toMap}")
    assert(byPart(Some("cold")).size == 1) // untouched, never rewritten
    assert(GraftTable(spark, pp).toDf().count() == 4)
    // OFF by default: no OPTIMIZE commits appear
    val pd = tmpDir("autocompact_off")
    (0 to 4).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, "x")).toDF("k", "s"), pd,
        WriteOptions(mode =
          if (i == 0) WriteMode.Overwrite else WriteMode.Append))
    }
    assert(GraftTable(spark, pd).snapshot().files.size == 5)
    assert(!GraftTable(spark, pd).history().exists(_.operation == "OPTIMIZE"))
  }

  test("in-commit timestamps stay monotone under clock skew") {
    import org.apache.hadoop.fs.Path
    val p = tmpDir("ts_monotone")
    GraftWriter.write(spark, Seq((1L, "a")).toDF("k", "s"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val t = GraftTable(spark, p)
    // simulate a writer with a FAST clock: rewrite v0's stored
    // timestamp one hour into the future (timestamps live in the
    // commit JSON itself — that is what makes this surgery possible)
    val fs = t.log.fs
    val v0 = new Path(p, "_graft_log/v0000000000.json")
    val skewed = System.currentTimeMillis() + 3600L * 1000
    val raw = {
      val in = fs.open(v0)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val c0 = org.json4s.jackson.JsonMethods.parse(raw)
    val patched = org.json4s.jackson.JsonMethods.compact(
      c0.replace(List("timestampMs"), org.json4s.JLong(skewed)))
    fs.delete(v0, false)
    val out = fs.create(v0, false)
    try out.write(patched.getBytes("UTF-8")) finally out.close()
    // the next commit (sane clock, an hour BEHIND v0's stamp) must not
    // regress: ts(v1) = ts(v0) + 1
    GraftWriter.write(spark, Seq((2L, "b")).toDF("k", "s"), p,
      WriteOptions(mode = WriteMode.Append))
    val hist = GraftTable(spark, p).history().sortBy(_.version)
    assert(hist.map(_.timestampMs) == Seq(skewed, skewed + 1),
      hist.map(c => (c.version, c.timestampMs)).toString)
    // TIMESTAMP AS OF resolves through the monotone stamps: the skewed
    // instant sees v0, one ms later sees v1, a pre-skew instant has
    // NO commit at-or-before it and fails loudly
    assert(GraftTable(spark, p).versionAtTimestamp(skewed) == 0L)
    assert(GraftTable(spark, p).versionAtTimestamp(skewed + 1) == 1L)
    val e = intercept[IllegalArgumentException] {
      GraftTable(spark, p).versionAtTimestamp(skewed - 10)
    }
    assert(e.getMessage.contains("no commit"), e.getMessage)
    // startingTimestamp's at-or-after lookup agrees
    assert(GraftTable(spark, p).versionAtOrAfterTimestamp(skewed + 1) == 1L)
  }

  test("re-writing a sharded checkpoint under a different layout clears stale shards") {
    import graft.log.CommitLog
    import org.apache.hadoop.fs.Path
    val p = tmpDir("ckpt_shard_relayout")
    (0 until 12).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val conf = spark.sessionState.newHadoopConf()
    // first attempt: 5 records/shard -> shards 0..2 (5,5,2)
    new CommitLog(p, conf, checkpointShardRecords = 5).writeCheckpoint(11L)
    val fs = new CommitLog(p, conf).fs
    assert(fs.exists(new Path(p, "_graft_log/ckpt-v0000000011.shard-00002.gz")))
    // retry under a SMALLER shard size -> 4 shards. writeFileAtomic keeps
    // an existing target on rename loss, so without pre-cleanup shards
    // 0..2 would stay old-layout (5+5+2 files) next to a manifest
    // declaring 4 shards/12 files — 15 parsed files, permanently
    // unreadable. The cleanup must make the retry fully fresh.
    new CommitLog(p, conf, checkpointShardRecords = 3).writeCheckpoint(11L)
    (0 to 3).foreach { i =>
      assert(fs.exists(new Path(p, f"_graft_log/ckpt-v0000000011.shard-$i%05d.gz")))
    }
    val log = new CommitLog(p, conf)
    assert(log.readCheckpoint(11L).files.size == 12)
    // replay through it (drop commits below) still serves everything
    (0L until 11L).foreach { v =>
      fs.delete(new Path(p, f"_graft_log/v$v%010d.json"), false)
    }
    fs.delete(new Path(p, "_graft_log/ckpt-v0000000010.json.gz"), false)
    assert(GraftTable(spark, p).toDf().collect().map(_.getLong(0)).sorted
      .toSeq == (0L until 12L))
  }

  test("log-retention across a sharded boundary checkpoint") {
    import graft.log.CommitLog
    import org.apache.hadoop.fs.Path
    val p = tmpDir("ckpt_shard_ret")
    (0 until 25).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val conf = spark.sessionState.newHadoopConf()
    val shardLog = new CommitLog(p, conf, checkpointShardRecords = 8)
    shardLog.writeCheckpoint(20L) // 21 files -> 3 shards
    val fs = shardLog.fs
    // leave ONLY the sharded form at the boundary
    fs.delete(new Path(p, "_graft_log/ckpt-v0000000020.json.gz"), false)
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    val deleted = shardLog.cleanOldLogs(1000L, nowMs = future)
    assert(deleted.nonEmpty)
    assert(shardLog.versions() == (20L to 24L))
    // sub-boundary checkpoint artifacts (the gz at v10) went with them
    assert(!fs.exists(new Path(p, "_graft_log/ckpt-v0000000010.json.gz")))
    // replay through the sharded boundary still serves everything
    assert(GraftTable(spark, p).toDf().count() == 25)
    assert(GraftTable(spark, p).toDf().collect().map(_.getLong(0)).sorted
      .toSeq == (0L until 25L))
  }

  test("null partition values round-trip (hive default partition)") {
    val p = tmpDir("nullpart")
    val df = Seq((1L, "a"), (2L, null.asInstanceOf[String]), (3L, "a"))
      .toDF("k", "pt")
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt")))
    val t = GraftTable(spark, p)
    assert(t.toDf().count() == 3)
    assert(t.toDf().filter(col("pt").isNull).collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.read.format("graft").load(p)
      .filter(col("pt") === "a").count() == 2)
  }

  test("symlink manifest lists exactly the live snapshot; DV tables refuse") {
    import org.apache.hadoop.fs.Path
    val p = tmpDir("symlink")
    GraftWriter.write(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "pt"), p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt")))
    val t = GraftTable(spark, p)
    def readManifest(rel: String): Seq[String] = {
      val src = scala.io.Source.fromFile(s"$p/$rel", "UTF-8")
      try src.getLines().toList finally src.close()
    }
    val manifests = spark.sql(s"GENERATE symlink_format_manifest FOR TABLE graft.`$p`")
      .collect().map(_.getString(0)).toSeq
    assert(manifests.size == 2 &&
      manifests.forall(_.startsWith("_symlink_format_manifest/pt=")))
    // every live file, and ONLY live files, appears — and the URIs are
    // readable as plain parquet by an engine with no commit-log notion
    val listed = manifests.flatMap(readManifest)
    val live = t.snapshot().files.map(f =>
      t.log.fs.makeQualified(new Path(p, f.path)).toString).sorted
    assert(listed.sorted == live)
    assert(spark.read.parquet(listed.map(_.stripPrefix("file:")): _*)
      .count() == 3)
    // regeneration after DML tracks the new snapshot (no stale entries)
    graft.merge.Dml.delete(spark, p, col("k") === 3L)
    val after = spark.sql(s"GENERATE symlink_format_manifest FOR TABLE graft.`$p`")
      .collect().map(_.getString(0)).flatMap(readManifest)
    val liveAfter = t.snapshot().files.map(f =>
      t.log.fs.makeQualified(new Path(p, f.path)).toString).sorted
    assert(after.sorted.toSeq == liveAfter)
    assert(spark.read.parquet(after.map(_.stripPrefix("file:")): _*)
      .count() == 2)
    // the old pt=b manifest dir is gone (full regeneration)
    assert(!new java.io.File(s"$p/_symlink_format_manifest/pt=b").exists())
    // DV tables refuse: a symlink reader would resurrect deleted rows
    val pd = tmpDir("symlink_dv")
    GraftWriter.write(spark, Seq(1L, 2L, 3L).toDF("k").coalesce(1), pd,
      WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map("graft.dv" -> "true")))
    graft.merge.Dml.delete(spark, pd, col("k") === 2L)
    assert(GraftTable(spark, pd).snapshot().files.exists(_.dv.isDefined))
    val ex = intercept[IllegalArgumentException] {
      GraftTable(spark, pd).generateSymlinkManifest()
    }
    assert(ex.getMessage.contains("deletion vectors"))
    // OPTIMIZE purges the DVs; generation then succeeds
    GraftWriter.optimize(spark, pd)
    assert(GraftTable(spark, pd).generateSymlinkManifest().nonEmpty)

    // external refs (shallow clone) rebuild partition dirs with HIVE
    // escaping — the same naming the table layout uses, so a value
    // with a space round-trips (URL-encoding would publish 'a+b')
    val src2 = tmpDir("symlink_src2")
    GraftWriter.write(spark,
      Seq((1L, "a b"), (2L, "plain")).toDF("k", "pt"), src2,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt")))
    val srcDirs = new java.io.File(src2).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("pt=")).toSet
    val cl = tmpDir("symlink_clone") + "/t"
    graft.io.Clone.shallow(spark, src2, cl)
    val cloneManifests = GraftTable(spark, cl).generateSymlinkManifest()
    val cloneDirs = cloneManifests
      .map(_.stripPrefix("_symlink_format_manifest/").stripSuffix("/manifest"))
      .toSet
    assert(cloneDirs == srcDirs,
      s"manifest dirs $cloneDirs must mirror the source layout $srcDirs")
    val cloneUris = cloneManifests.flatMap(readManifest2(cl, _))
    assert(spark.read.parquet(cloneUris.map(_.stripPrefix("file:")): _*)
      .count() == 2)
  }

  private def readManifest2(root: String, rel: String): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$root/$rel", "UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("vacuumOrphans deletes unreferenced files only") {
    val p = tmpDir("orph")
    GraftWriter.write(spark, abDf, p, WriteOptions(mode = WriteMode.Overwrite))
    // drop an unreferenced parquet straggler into the table dir
    val stray = new java.io.File(p, "stray-leftover.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    val t = GraftTable(spark, p)
    // too young: kept
    assert(t.vacuumOrphans(60000L).isEmpty)
    val future = System.currentTimeMillis() + 60000
    val deleted = t.vacuumOrphans(1000L, nowMs = future)
    assert(deleted == Seq("stray-leftover.parquet"))
    assert(!stray.exists())
    assert(t.toDf().count() == 3) // live data untouched
  }

  test("vacuumOrphans: executor-parallel sweep over a many-partition layout") {
    val p = tmpDir("orph_part")
    val df = (1 to 32).map(i => (i.toLong, s"p${i % 8}")).toDF("k", "pt")
    GraftWriter.write(spark, df, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt")))
    val t = GraftTable(spark, p)
    def drop(rel: String): Unit = {
      val f = new java.io.File(p, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
    }
    drop("pt=p1/stray1.parquet")          // orphan inside a partition dir
    drop("pt=p3/stray2.parquet")
    drop("root-stray.parquet")            // orphan at the table root
    drop("pt=p2/.hidden-stray.parquet")   // hidden: never touched
    drop("_staging-x/stray.parquet")      // internal dir: never touched
    drop("pt=p4/notes.txt")               // non-parquet: never touched
    val future = System.currentTimeMillis() + 60000
    // dry run reports the doomed set without deleting anything
    val wouldGo = t.vacuumOrphans(1000L, nowMs = future, dryRun = true)
    assert(wouldGo == Seq(
      "pt=p1/stray1.parquet", "pt=p3/stray2.parquet", "root-stray.parquet"))
    assert(new java.io.File(p, "pt=p1/stray1.parquet").exists())
    // real run deletes exactly the dry-run set
    val deleted = t.vacuumOrphans(1000L, nowMs = future)
    assert(deleted == wouldGo)
    assert(!new java.io.File(p, "pt=p1/stray1.parquet").exists())
    assert(!new java.io.File(p, "root-stray.parquet").exists())
    assert(new java.io.File(p, "pt=p2/.hidden-stray.parquet").exists())
    assert(new java.io.File(p, "_staging-x/stray.parquet").exists())
    assert(new java.io.File(p, "pt=p4/notes.txt").exists())
    assert(t.toDf().count() == 32, "live data untouched")
    // idempotent: a second sweep finds nothing
    assert(t.vacuumOrphans(1000L, nowMs = future).isEmpty)
    // young strays survive the retention window
    drop("pt=p5/young.parquet")
    assert(t.vacuumOrphans(60000L).isEmpty)
  }

  test("vacuumOrphans after log retention never deletes checkpoint-only live files") {
    import graft.log.CommitLog
    val p = tmpDir("orph_ret")
    // 25 appends -> checkpoints at v10/v20; files added by commits 0..19
    // stay LIVE but (after retention) are referenced only through the
    // boundary checkpoint — the orphan sweep must protect them
    (0 until 25).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    assert(log.cleanOldLogs(1000L, nowMs = future).nonEmpty)
    assert(log.versions().head == 20L)
    // aggressive sweep with everything "old": nothing live may go
    val deleted = GraftTable(spark, p).vacuumOrphans(1000L, nowMs = future)
    assert(deleted.isEmpty, s"live files deleted: $deleted")
    assert(GraftTable(spark, p).toDf().count() == 25,
      "table must survive an orphan sweep after log retention")
    // a genuine stray still goes
    val stray = new java.io.File(p, "stray.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1))
    assert(GraftTable(spark, p).vacuumOrphans(1000L, nowMs = future) ==
      Seq("stray.parquet"))
    assert(GraftTable(spark, p).toDf().count() == 25)
  }

  test("log-retention cleanup keeps the checkpoint boundary readable") {
    import graft.log.CommitLog
    val p = tmpDir("logret")
    (0 until 25).foreach { i =>
      GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
        WriteOptions(mode = WriteMode.Append))
    }
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    assert(log.checkpointVersions() == Seq(10L, 20L))
    // nothing old enough yet
    assert(log.cleanOldLogs(60000L).isEmpty)
    // a month from now everything up to the newest checkpoint (v20) goes
    val future = System.currentTimeMillis() + 30L * 24 * 3600 * 1000
    val deleted = log.cleanOldLogs(1000L, nowMs = future)
    assert(deleted.nonEmpty)
    assert(log.versions() == (20L to 24L))
    assert(log.checkpointVersions() == Seq(20L))
    // full contents still reconstruct through ckpt-20 + suffix
    assert(GraftTable(spark, p).toDf().count() == 25)
    assert(GraftTable(spark, p).toDf(Some(22L)).count() == 23)
    intercept[Exception] { GraftTable(spark, p).toDf(Some(5L)) }
    // idempotent
    assert(log.cleanOldLogs(1000L, nowMs = future).isEmpty)
    // a CORRUPT lone boundary checkpoint on a cleaned log fails loudly
    // instead of silently dropping pre-boundary files
    val boundary = new org.apache.hadoop.fs.Path(p, "_graft_log/ckpt-v0000000020.json.gz")
    val out = log.fs.create(boundary, true)
    try out.write("{not json".getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalArgumentException] {
      new CommitLog(p, spark.sessionState.newHadoopConf()).snapshot()
    }
    assert(ex.getMessage.contains("no readable checkpoint"))
  }

  test("concurrent GraftWriter appends all land (full write path under contention)") {
    val p = tmpDir("cw")
    GraftWriter.write(spark, Seq((0L, 0L)).toDF("a", "b"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val threads = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val done = new java.util.concurrent.CountDownLatch(threads)
    val failures = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
    (1 to threads).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit =
          try GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
            WriteOptions(mode = WriteMode.Append))
          catch { case t: Throwable => failures.add(t) }
          finally done.countDown()
      })
    }
    assert(done.await(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"writes failed: $failures")
    val t = GraftTable(spark, p)
    assert(t.toDf().count() == threads + 1)
    assert(t.version() == threads.toLong) // one commit per writer
  }

  test("concurrent committers never silently lose a commit") {
    import graft.log.{AddFile, CommitLog}
    val p = tmpDir("cc")
    val log = new CommitLog(p, spark.sessionState.newHadoopConf())
    val threads = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val start = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(threads)
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    (1 to threads).foreach { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          var committed = false
          while (!committed) {
            try {
              val v = log.commit("test", "append", "a BIGINT", Nil, Map.empty,
                Map.empty, Seq(AddFile(s"f$i.parquet", Map.empty, 1, 1, 0)), Nil)
              versions.add(v); committed = true
            } catch { case _: java.util.ConcurrentModificationException => () }
          }
          done.countDown()
        }
      })
    }
    start.countDown()
    assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    // every committer got a distinct version and every add action survived
    assert(versions.size == threads)
    assert(log.versions() == (0L until threads.toLong))
    assert(log.snapshot().files.map(_.path).toSet ==
      (1 to threads).map(i => s"f$i.parquet").toSet)
  }
}
