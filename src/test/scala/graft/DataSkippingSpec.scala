package graft

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.io._

class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  test("bloom point-lookup skips files min/max cannot prune; results identical") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    def build(p: String, withBloom: Boolean): Unit =
      (0 until 8).foreach { i =>
        // keys STRIPED across files: every file's [min,max] spans the
        // whole range, so footer stats prune nothing — only the bloom
        // filter can confine a point probe
        // v is striped the same way (file-id LAST) so string min/max
        // ranges overlap across files too; w is file-DISJOINT so stats
        // CAN prune on it (the memo-poisoning regression needs a filter
        // that narrows the candidate set)
        val df = (0 until 100).map(j =>
          (j * 16L + i, f"v$j%03d-$i", i * 100L + j))
          .toDF("k", "v", "w").coalesce(1)
        val meta =
          if (withBloom && i == 0) Map(BloomFilters.PropKey -> "k,v")
          else Map.empty[String, String]
        GraftWriter.write(spark, df, p, WriteOptions(
          mode = if (i == 0) WriteMode.Overwrite else WriteMode.Append,
          metadata = meta))
      }
    def scannedFiles(p: String, probe: org.apache.spark.sql.catalyst.expressions.Expression): Int = {
      val t = GraftTable(spark, p)
      val idx = new graft.sources.GraftFileIndex(spark, p, t.snapshot())
      idx.listFiles(Nil, Seq(probe)).map(_.files.length).sum
    }
    val withB = tmpDir("bloom_on")
    val without = tmpDir("bloom_off")
    build(withB, withBloom = true)
    build(without, withBloom = false)
    assert(GraftTable(spark, withB).snapshot().files.size == 8)

    val kProbe = EqualTo(AttributeReference("k", LongType)(), Literal(5 * 16L + 3))
    // stats alone keep all 8 files; blooms confine the probe
    assert(scannedFiles(without, kProbe) == 8)
    assert(scannedFiles(withB, kProbe) < 8,
      "bloom filters must prune files for a long-key point lookup")
    // string column goes through the BINARY hash path
    val vProbe = EqualTo(AttributeReference("v", StringType)(), Literal("v005-3"))
    assert(scannedFiles(without, vProbe) == 8)
    assert(scannedFiles(withB, vProbe) < 8,
      "bloom filters must prune files for a string-key point lookup")

    // full read path: results identical with and without the index
    def lookup(p: String) = spark.read.format("graft").load(p)
      .filter(col("k") === 83L)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(lookup(withB) == Seq((83L, "v005-3")))
    assert(lookup(withB) == lookup(without))
    // IN probes prune too and lose nothing
    val inRows = spark.read.format("graft").load(withB)
      .filter(col("k").isin(83L, 1591L))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(inRows == Seq(83L, 1591L))

    // memo-poisoning regression: the SAME index first answers the probe
    // under a stats filter that narrows candidates to file 0, then the
    // probe ALONE — the broad answer must still find the true holder
    // (file 3), not be confined to the first call's candidate set
    val t2 = GraftTable(spark, withB)
    val idx2 = new graft.sources.GraftFileIndex(spark, withB, t2.snapshot())
    import org.apache.spark.sql.catalyst.expressions.LessThan
    val wNarrow = LessThan(AttributeReference("w", LongType)(), Literal(100L))
    val narrow = idx2.listFiles(Nil, Seq(kProbe, wNarrow)).map(_.files.length).sum
    assert(narrow <= 1, s"w<100 + bloom should confine to <=1 file, got $narrow")
    val broad = idx2.listFiles(Nil, Seq(kProbe)).map(_.files.length).sum
    assert(broad >= 1 && broad < 8, s"broad probe got $broad files")
    // and the broad read truly serves the row (file 3 holds k=83)
    val viaIdx = spark.read.format("graft").load(withB)
      .filter(col("k") === 83L).count()
    assert(viaIdx == 1L)

    // memo keys carry the VALUE TYPE: a string probe "83" (absent from
    // the string column -> everything pruned) must not answer a later
    // long-83 probe on the same column (unhashable against BINARY ->
    // keep-all). Seq.toString rendered both as "83" and shared the row.
    val idx3 = new graft.sources.GraftFileIndex(spark, withB, t2.snapshot())
    val vAttr = AttributeReference("v", StringType)()
    val strMiss = idx3.listFiles(Nil,
      Seq(EqualTo(vAttr, Literal("83")))).map(_.files.length).sum
    assert(strMiss == 0, s"absent string key should prune all files, got $strMiss")
    val longOnBinary = idx3.listFiles(Nil,
      Seq(EqualTo(vAttr, Literal(83L)))).map(_.files.length).sum
    assert(longOnBinary == 8,
      s"a long probe on a string column is unhashable -> keep all 8; " +
        s"got $longOnBinary (memo poisoned across value types?)")

    // the executor fan-out path (used past DriverPruneLimit candidates)
    // must agree with the driver pool byte-for-byte — this is the
    // closure-serialization canary for the 100 TB path
    val snapB = GraftTable(spark, withB).snapshot()
    val checks = Seq(("k", Seq[Any](83L)))
    val viaDriver = BloomFilters.pruneFiles(
      spark.sessionState.newHadoopConf(), withB, snapB.files, checks)
    val viaExec = org.apache.spark.sql.graft.GraftInternal
      .distributedFilter(spark, snapB.files.map(_.path),
        (c, rel) => BloomFilters.mayContain(
          c, new org.apache.hadoop.fs.Path(withB, rel), checks))
      .toSet
    assert(viaExec == viaDriver, s"executor $viaExec != driver $viaDriver")
    assert(viaExec.size < 8)
  }

  test("stats cap keeps the log narrow; skipping on capped columns degrades conservatively") {
    val p = tmpDir("statscap")
    val df = spark.range(0, 1000).select(col("id").as("a"),
      (col("id") * 2).as("b"), (col("id") * 3).as("c"))
      .repartitionByRange(4, col("a"))
    GraftWriter.write(spark, df, p, WriteOptions(mode = WriteMode.Overwrite,
      metadata = Map(GraftWriter.StatsIndexedColsKey -> "2")))
    val t = GraftTable(spark, p)
    val files = t.snapshot().files
    assert(files.size == 4)
    // only the first 2 schema columns carry stats
    assert(files.forall(_.stats.keySet == Set("a", "b")),
      s"got stats keys ${files.map(_.stats.keySet)}")
    // skipping on an indexed column still prunes
    assert(t.filesAfterPruning(Seq(DataFilter("a", SkipOp.Ge, 900L))) <= 2)
    // skipping on a CAPPED column keeps every file — and stays correct
    assert(t.filesAfterPruning(Seq(DataFilter("c", SkipOp.Ge, 2700L))) == 4)
    assert(t.scanPruned(Seq(DataFilter("c", SkipOp.Ge, 2700L))).count() == 100)
    // the cap follows TABLE-schema order, not the write frame's order:
    // an append with reordered columns still indexes {a, b}
    GraftWriter.write(spark,
      spark.range(1000, 1100).select((col("id") * 3).as("c"),
        (col("id") * 2).as("b"), col("id").as("a")).coalesce(1),
      p, WriteOptions(mode = WriteMode.Append))
    assert(GraftTable(spark, p).snapshot().files
      .forall(_.stats.keySet == Set("a", "b")))
    // OPTIMIZE-compacted files keep the cap too (the bulk-rewrite path
    // is exactly where O(width) stats would hurt most)
    GraftWriter.optimize(spark, p)
    assert(GraftTable(spark, p).snapshot().files
      .forall(_.stats.keySet == Set("a", "b")))
    // partition columns never consume indexed slots
    val pp = tmpDir("statscap_part")
    GraftWriter.write(spark,
      spark.range(0, 100).select((col("id") % 2).cast("string").as("pt"),
        col("id").as("x"), (col("id") * 2).as("y"), (col("id") * 3).as("z")),
      pp, WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt"),
        metadata = Map(GraftWriter.StatsIndexedColsKey -> "2")))
    assert(GraftTable(spark, pp).snapshot().files
      .forall(_.stats.keySet == Set("x", "y")),
      "the partition column must not occupy an indexed slot")
    // creating write WITH column mapping declared: partition columns are
    // logical names, the frame writes physical ones — filtering must
    // happen on the logical side or the partition column eats a slot
    // and the trailing data column silently loses stats
    val pm = tmpDir("statscap_mapped")
    GraftWriter.write(spark,
      spark.range(0, 100).select((col("id") % 2).cast("string").as("pt"),
        col("id").as("x"), (col("id") * 2).as("y"), (col("id") * 3).as("z")),
      pm, WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("pt"),
        metadata = Map(GraftWriter.StatsIndexedColsKey -> "2",
          graft.io.ColumnMapping.key("x") -> "col_x_phys")))
    assert(GraftTable(spark, pm).snapshot().files
      .forall(_.stats.keySet == Set("col_x_phys", "y")),
      s"mapped creating write must index {col_x_phys, y}; got " +
        GraftTable(spark, pm).snapshot().files.map(_.stats.keySet).toString)
  }

  test("footer stats land in add actions; pruned scan reads fewer files, same rows") {
    val p = tmpDir("skip")
    val df = spark.range(0, 10000)
      .select(col("id").as("k"),
        (col("id") * 2).cast("double").as("v"),
        concat(lit("s"), lpad(col("id").cast("string"), 6, "0")).as("s"))
      .repartitionByRange(8, col("k")) // disjoint k ranges per file
    GraftWriter.write(spark, df, p, WriteOptions(mode = WriteMode.Overwrite))
    val t = GraftTable(spark, p)
    val files = t.snapshot().files
    assert(files.size == 8)
    assert(files.forall(_.stats.get("k").exists(s => s.min.isDefined && s.max.isDefined)))

    // range predicate on the clustered column: most files pruned
    val f = Seq(DataFilter("k", SkipOp.Ge, 9000L))
    assert(t.filesAfterPruning(f) <= 2)
    assert(t.scanPruned(f).count() == 1000)
    // equality: exactly one file
    val eq = Seq(DataFilter("k", SkipOp.Eq, 1234L))
    assert(t.filesAfterPruning(eq) == 1)
    assert(t.scanPruned(eq).count() == 1)
    // string stats prune too
    val sf = Seq(DataFilter("s", SkipOp.Lt, "s000100"))
    assert(t.filesAfterPruning(sf) == 1)
    assert(t.scanPruned(sf).count() == 100)
    // unclustered double column: pruning keeps correctness anyway
    val vf = Seq(DataFilter("v", SkipOp.Gt, 19990.0))
    assert(t.scanPruned(vf).count() == 4)
  }

  test("null-count and IN skipping: IsNull/IsNotNull/In prune by stats") {
    val p = tmpDir("skipnull")
    // file A: no nulls; file B: all nulls in s
    GraftWriter.write(spark,
      spark.range(0, 100).select(col("id").as("k"), lit("x").as("s")).coalesce(1),
      p, WriteOptions(mode = WriteMode.Overwrite))
    GraftWriter.write(spark,
      spark.range(100, 200).select(col("id").as("k"),
        lit(null).cast("string").as("s")).coalesce(1),
      p, WriteOptions(mode = WriteMode.Append))
    val t = GraftTable(spark, p)
    assert(t.snapshot().files.size == 2)
    // IsNull keeps only the all-null file; IsNotNull only the non-null one
    assert(t.filesAfterPruning(Seq(DataFilter("s", SkipOp.IsNull))) == 1)
    assert(t.filesAfterPruning(Seq(DataFilter("s", SkipOp.IsNotNull))) == 1)
    assert(t.scanPruned(Seq(DataFilter("s", SkipOp.IsNull))).count() == 100)
    assert(t.scanPruned(Seq(DataFilter("s", SkipOp.IsNotNull))).count() == 100)
    // In prunes files whose [min,max] contains none of the candidates
    assert(t.filesAfterPruning(Seq(DataFilter("k", SkipOp.In, Seq(5L, 7L)))) == 1)
    assert(t.scanPruned(Seq(DataFilter("k", SkipOp.In, Seq(5L, 150L)))).count() == 2)
    // and the same shapes prune through the SQL scan path (IsNotNull is
    // injected by Spark for any filter; In arrives from isin)
    val viaSql = spark.read.format("graft").load(p)
      .filter(col("s").isNotNull)
    val scan = viaSql.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    viaSql.collect()
    assert(scan.metrics("numFiles").value == 1L)
  }

  test("string stats compare in UTF-8 byte order (emoji vs private-use)") {
    val p = tmpDir("skiputf8")
    // UTF-16 order puts U+E000 ABOVE the emoji (surrogates start 0xD83D);
    // UTF-8 byte order (what parquet footer stats use) reverses that.
    // A UTF-16 comparison would see the probe above the file max and
    // wrongly prune the file that holds the matching row.
    GraftWriter.write(spark,
      Seq("a", "", "😀").toDF("s").coalesce(1),
      p, WriteOptions(mode = WriteMode.Overwrite))
    val t = GraftTable(spark, p)
    val f = Seq(DataFilter("s", SkipOp.Eq, ""))
    assert(t.filesAfterPruning(f) == 1)
    assert(t.scanPruned(f).count() == 1)
  }

  test("unknown null counts (-1 sentinel) never prune; known zero does") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.log.{AddFile, FileColStat}
    val schema = StructType(Seq(StructField("s", StringType)))
    val unknown = AddFile("f", Map.empty, 1L, 10L, 0L,
      Map("s" -> FileColStat(Some("a"), Some("b"), -1L)))
    assert(DataSkipping.mayMatch(unknown, schema, DataFilter("s", SkipOp.IsNull)))
    assert(DataSkipping.mayMatch(unknown, schema, DataFilter("s", SkipOp.IsNotNull)))
    val zero = unknown.copy(stats = Map("s" -> FileColStat(Some("a"), Some("b"), 0L)))
    assert(!DataSkipping.mayMatch(zero, schema, DataFilter("s", SkipOp.IsNull)))
    val allNull = unknown.copy(stats = Map("s" -> FileColStat(None, None, 10L)))
    assert(!DataSkipping.mayMatch(allNull, schema, DataFilter("s", SkipOp.IsNotNull)))
  }

  test("timestamp columns are data-skippable (micros output)") {
    val p = tmpDir("skipts")
    val df = (0 until 96).map(h =>
      (h.toLong, Timestamp.valueOf(f"2024-01-${h / 24 + 1}%02d ${h % 24}%02d:00:00")))
      .toDF("id", "ts")
      .repartitionByRange(4, col("ts"))
    GraftWriter.write(spark, df, p, WriteOptions(mode = WriteMode.Overwrite))
    val t = GraftTable(spark, p)
    val f = Seq(DataFilter("ts", SkipOp.Ge, Timestamp.valueOf("2024-01-04 00:00:00")))
    assert(t.filesAfterPruning(f) == 1)
    assert(t.scanPruned(f).count() == 24)
  }

  test("concurrent appends both commit (conflict retry), no lost updates") {
    val p = tmpDir("race")
    GraftWriter.write(spark, Seq((0L, 0L)).toDF("a", "b"), p,
      WriteOptions(mode = WriteMode.Overwrite))
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val writers = (1 to 4).map { i =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          GraftWriter.write(spark, Seq((i.toLong, i.toLong)).toDF("a", "b"), p,
            WriteOptions(mode = WriteMode.Append))
        }
      })
    }
    start.countDown()
    writers.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    val t = GraftTable(spark, p)
    assert(t.version() == 4L) // 4 appends after v0, every one committed
    assert(t.toDf().count() == 5)
    assert(t.toDf().select("a").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L, 4L))
  }

  test("date and timestamp partitions prune in filesAfterPruning, scanPruned and matcherFor") {
    import org.apache.spark.sql.DataFrame
    def check(df: DataFrame, c: String, typed: Any): Unit = {
      val p = tmpDir(s"part_$c") + "/t"
      GraftWriter.write(spark, df, p,
        WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq(c)))
      val t = GraftTable(spark, p)
      val snap = t.snapshot()
      assert(snap.files.size == 2)
      // the value as the log spells it: the string-literal form
      val asString = snap.files.map(_.partitionValues(c)).min
      for (v <- Seq(typed, asString)) {
        val f = Seq(DataFilter(c, SkipOp.Eq, v))
        assert(t.filesAfterPruning(f) == 1, s"$c = $v")
        assert(t.scanPruned(f).count() == 1, s"$c = $v")
        val m = DataSkipping.matcherFor(spark, snap, col(c) === lit(v))
        assert(snap.files.filter(m).map(_.partitionValues(c)) == Seq(asString),
          s"matcherFor $c = $v")
      }
    }
    check(Seq((1L, java.sql.Date.valueOf("2024-01-01")),
      (2L, java.sql.Date.valueOf("2024-01-02"))).toDF("k", "d"),
      "d", java.sql.Date.valueOf("2024-01-01"))
    check(Seq((1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, Timestamp.valueOf("2024-01-02 00:00:00"))).toDF("k", "ts"),
      "ts", Timestamp.valueOf("2024-01-01 00:00:00"))
  }

  test("filesAfterPruning counts exactly the files scanPruned's executed scan reads") {
    import org.apache.spark.sql.graft.ExecutionRecorder
    val p = tmpDir("prune_oracle") + "/t"
    // two files per date partition c (one of them the NULL partition);
    // the data column k is disjoint per file, so footer stats prune too
    val (a, b) = (java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-02"))
    for ((c, i) <- Seq(Some(a), Some(b), None).zipWithIndex; j <- 0 until 2) {
      val base = 100L * (3 * j + i)
      GraftWriter.write(spark,
        (base until base + 10).map(k => (k, c)).toDF("k", "c").coalesce(1), p,
        WriteOptions(mode = if (i + j == 0) WriteMode.Overwrite else WriteMode.Append,
          partitionBy = Seq("c")))
    }
    val t = GraftTable(spark, p)
    assert(t.snapshot().files.size == 6)
    val cases: Seq[(Seq[DataFilter], Int)] = Seq(
      Seq(DataFilter("c", SkipOp.Eq, a)) -> 2,
      Seq(DataFilter("c", SkipOp.Gt, "2024-01-01")) -> 2,
      Seq(DataFilter("c", SkipOp.IsNull)) -> 2,
      Seq(DataFilter("c", SkipOp.IsNotNull)) -> 4,
      Seq(DataFilter("k", SkipOp.Ge, 300L)) -> 3,
      Seq(DataFilter("c", SkipOp.In, Seq(a, b)), DataFilter("k", SkipOp.Le, 105L)) -> 2,
      Seq(DataFilter("c", SkipOp.IsNull), DataFilter("k", SkipOp.Lt, 300L)) -> 1,
      Seq(DataFilter("k", SkipOp.Eq, 999999L)) -> 0)
    for ((fs, want) <- cases) {
      val (rows, runs) = ExecutionRecorder.record(spark)(t.scanPruned(fs).collect())
      assert(runs.map(ExecutionRecorder.filesScanned).sum == t.filesAfterPruning(fs), fs)
      assert(t.filesAfterPruning(fs) == want, fs)
      val residual = fs.map(_.toColumn).reduce(_ && _)
      assert(rows.toSet == t.toDf().filter(residual).collect().toSet, fs)
    }
  }
}
