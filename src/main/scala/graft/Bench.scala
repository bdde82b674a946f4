package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times each headline query (SparkEntry.benchQueries) on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Each query is fully materialized through the `noop` sink (a plain
  * `count()` would let Catalyst prune the expensive projections).
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) in
  * INTERLEAVED full-suite sweeps and reports the per-query MEDIAN (the
  * JSON carries a "runs" field so rounds are comparable): at this SF a
  * query's first run is dominated by janino codegen compilation — a
  * constant that doesn't grow with data — and a single sample under
  * ±30% machine-load noise flagged two phantom regressions in earlier
  * rounds. The median measures the steady-state data path, which is the
  * number that scales; sweeping time-separates a query's samples so
  * sustained load can contaminate at most one of them.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = LocalSession(LocalSession.coresFromEnv)
    // warm up session machinery (codegen compiler, parquet reader init)
    // so the first timed query doesn't absorb one-time startup cost
    spark.read.parquet(s"$sfDir/region.parquet").limit(1)
      .write.format("noop").mode("overwrite").save()
    // local-iteration escape hatch: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a
    // subset; the driver never sets it, so round benches are unaffected
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val headline = only match {
      case Some(sel) => SparkEntry.benchQueries.filter(sel.contains)
      case None => SparkEntry.benchQueries
    }
    // INTERLEAVED sweeps: run 1 of every query, then run 2, then run 3 —
    // not 3 back-to-back passes per query. Back-to-back samples sit inside
    // the same machine-load window, so a sustained spike inflates median
    // AND min together and evades the median/min guard below (BENCH_r10's
    // 10-13s phantoms re-measured 0.3-1.3s). Sweeping separates a query's
    // samples by the full suite duration (~40s at sf0.1), so load lasting
    // less than a sweep can contaminate at most one sample of each query.
    val failedQs = scala.collection.mutable.LinkedHashSet[String]()
    val sampled: Seq[(String, Seq[Double])] = {
      val acc = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
      headline.foreach(n => acc(n) = Vector.empty)
      for (_ <- 1 to runs; name <- headline) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        // a failed run is not a sample: a query that fails fast would
        // otherwise read as a speed-up (same rule as maintenanceBench)
        if (ok) acc(name) = acc(name) :+ (System.nanoTime() - t0) / 1e9
        else failedQs += name
        // release pair-generator scratch checkpoints between queries
        // (outside the timed region) so blocks can't accumulate across
        // the suite's ~200 materializations and skew later samples
        graft.ext.Scratch.drain()
      }
      acc.toSeq
    }
    val results = sampled.collect { case (name, raw) if raw.nonEmpty =>
      val times = raw.sorted
      (name, times(times.length / 2), times.head)
    }
    val qs = results.map { case (k, med, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val mins = results.map { case (k, _, mn) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    // Contamination guard: back-to-back medians share machine-load
    // spikes (r7's 26s dedup_clusters ghost, r8's 19.9s text_repetition
    // that re-measured 0.71s). A median more than 3x the same run's min
    // is load, not code — the min was the same binary on the same data
    // seconds apart. Flag those so regressions can be discounted.
    val noisy = results.collect {
      case (k, med, mn) if mn > 0 && med / mn > 3.0 => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Maintenance paths (write/compact/vacuum/replay) — reported as a
    // SEPARATE section so the read-only headline medians stay
    // round-comparable while OPTIMIZE / ZORDER / DV DELETE / vacuum /
    // checkpoint-replay regressions get the same per-round scrutiny.
    val (maint, failedMaint) = maintenanceBench(spark, sfDir, runs)
    // every query or maintenance entry with at least one failed run,
    // named: the loud counterpart of the samples dropped above
    val failed = (failedQs.toSeq ++ failedMaint).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val maintJson = maint.map { case (k, med, _) => "\"" + k + "\":" + med }
      .mkString("{", ",", "}")
    val maintMins = maint.map { case (k, _, mn) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    // the same median/min load guard the queries carry: each round's
    // maintenance pass is identical work on a fresh scratch table, so a
    // median 3x its own min is machine load, not a code regression
    // (BENCH_r13's 2.7-6.3x maintenance drift had no such flag and cost
    // a round of adjudication)
    val maintNoisy = maint.collect {
      case (k, med, mn) if mn > 0 && med / mn > 3.0 => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val detailed = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"min_queries":$mins,"noisy":$noisy,"maintenance":$maintJson,"maintenance_min":$maintMins,"maintenance_noisy":$maintNoisy,"failed":$failed,"sf":"$sfDir","runs":$runs,"agg":"median"}"""
    println(detailed)
    // The detailed line above is ~5000 chars; the round driver captures
    // only the LAST 2000 chars of stdout, so a truncated head makes it
    // unparseable (every BENCH_r{9..16}.json has parsed:null). Persist
    // the full detail to a file and print a COMPACT summary line LAST —
    // short enough to always land complete inside the tail window.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_detail.json"),
      (detailed + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail file write failed: ${e.getMessage}")
    }
    // The driver adjudicates per-query regressions from THIS line (the
    // detailed line above has been tail-truncated since round 9, so
    // PERF_r{9..17}.per_query was always empty). The hard constraint: the
    // driver captures only the LAST 2000 chars of stdout, and sbt's
    // trailing "[success] Total time: ..." line eats ~75 of them — so the
    // final line must stay under ~1925 chars. All 95 query names alone
    // are 1419 chars (+4 chars/entry of JSON punctuation ≈ 1800), so a
    // FULL per-query map can never fit at any value precision. Ship the
    // medians (2 decimals) for every headline query EXCEPT a FIXED
    // omit-set of the 25 historically-cheapest ones (~8% of suite cost;
    // their full-precision medians stay in the detailed line /
    // bench_detail.json). The set is hard-coded by NAME, not recomputed
    // per run, so the compact map's key set is identical across rounds —
    // a query can never flap in/out of the driver's comparison because
    // its timing moved. Maintenance medians and per-query mins live in
    // bench_detail.json per the r17 verdict (worst-case line length with
    // this envelope: 1857 chars, measured, plus at most 15 for the
    // failed-run count and about 25 for the omitted-median sum; the failed
    // NAMES live in bench_detail.json).
    val totalR = math.round(total * 1000).toDouble / 1000
    val noisyN = results.count { case (_, med, mn) => mn > 0 && med / mn > 3.0 }
    val maintNoisyN = maint.count { case (_, med, mn) => mn > 0 && med / mn > 3.0 }
    val compactQs = results
      .filterNot { case (k, _, _) => compactOmit(k) }
      .map { case (k, med, _) => "\"" + k + "\":" + f"$med%.2f" }
      .mkString("{", ",", "}")
    val omittedN = results.count { case (k, _, _) => compactOmit(k) }
    // the omit-set's median sum, so a collective regression among the
    // omitted queries stays visible on this line
    val omittedTotal =
      f"${results.collect { case (k, med, _) if compactOmit(k) => med }.sum}%.2f"
    println(s"""{"metric":"total","value":$totalR,"unit":"sec","queries_n":${results.length},"noisy_n":$noisyN,"queries_omitted_n":$omittedN,"omitted_total":$omittedTotal,"queries":$compactQs,"maintenance_noisy_n":$maintNoisyN,"failed":${failedQs.size + failedMaint.size},"sf":"$sfDir","runs":$runs,"agg":"median","detail":"bench_detail.json"}""")
    spark.stop()
  }

  /** Headline queries EXCLUDED from the final compact line's per-query
    * map (their medians remain in the detailed line and
    * bench_detail.json). These are the 25 cheapest queries of the r17
    * record (6.0 s of the 72.8 s suite) — the map that fits the driver's
    * 2000-char stdout-tail window keeps 92% of suite cost visible.
    * FIXED BY NAME for cross-round stability: do not recompute from
    * timings, and ADD new headline queries here first if the compact
    * line would otherwise outgrow the window (never remove one — the
    * driver would read removal as a dropped query).
    */
  private val compactOmit: Set[String] = Set(
    "binary_meta", "text_bpe_count", "split_assign", "text_chunks",
    "text_quality_classifier", "text_bpeish_count",
    "embedding_quantize_int8", "text_normalize", "embedding_stats",
    "text_chunk_tokens", "q02_filter_project", "text_token_stats",
    "source_quota", "url_filter", "embedding_normalize",
    "text_quality_score", "q09_global_topk", "q07_cust_no_orders",
    "embedding_centroid_sums", "domain_mix", "multimodal_project",
    "text_source_stats", "text_lang_id", "seq_pack", "sample_hash")

  /** Times the WRITE/maintenance surface on a scratch table built from
    * the SF's orders table: fragmented appends, bin-pack OPTIMIZE,
    * Z-order, a DV point delete, checkpoint write, a COLD snapshot
    * replay, retention vacuum, and the orphan sweep. Median of `runs`
    * fresh-table rounds (each round its own temp table, deleted after),
    * plus the names of the entries with a failed run.
    */
  private def maintenanceBench(
      spark: SparkSession, sfDir: String, runs: Int)
      : (Seq[(String, Double, Double)], Seq[String]) = {
    import org.apache.spark.sql.functions.col
    import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
    val acc = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      val ok =
        try { f; true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // a FAILED op's elapsed time is not a sample — recording it would
      // let a broken step (and every dependent step failing fast after
      // it) report plausible-looking medians; absent keys in the output
      // are the loud signal
      if (ok)
        acc(name) = acc.getOrElse(name, Vector.empty) :+
          (System.nanoTime() - t0) / 1e9
      else failed += name
    }
    for (_ <- 1 to runs) {
      val root = java.nio.file.Files.createTempDirectory("graft_maint").toString
      val p = s"$root/t"
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      time("maint_append_fragmented") {
        (1 to 4).foreach { _ =>
          GraftWriter.write(spark, orders.repartition(16), p,
            WriteOptions(mode = WriteMode.Append,
              metadata = Map("graft.dv" -> "true")))
        }
      }
      time("maint_optimize") { GraftWriter.optimize(spark, p) }
      time("maint_zorder") {
        GraftWriter.optimizeZOrder(spark, p, Seq("o_orderkey", "o_custkey"))
      }
      time("maint_dv_delete") {
        graft.merge.Dml.delete(spark, p, col("o_orderkey") % 1000 === 0)
      }
      val conf = spark.sessionState.newHadoopConf()
      time("maint_checkpoint_write") {
        val log = new graft.log.CommitLog(p, conf)
        log.writeCheckpoint(log.latestVersion().get)
      }
      time("maint_cold_replay") {
        // a FRESH CommitLog instance: full checkpoint + suffix replay
        new graft.log.CommitLog(p, conf).snapshot()
      }
      time("maint_vacuum") {
        GraftTable(spark, p).vacuumOlderThan(0L, enforceRetention = false)
      }
      time("maint_vacuum_orphans") {
        GraftTable(spark, p).vacuumOrphans(0L,
          nowMs = System.currentTimeMillis() + 60000L)
      }
      // --- r18 additions: the previously unbenched lifecycles (matview
      // refresh, dedup-store incremental, ANN index build/search) under
      // the same per-round scrutiny. Additions-only, placed AFTER the
      // original entries on their OWN scratch tables so the original
      // entries' table state (and cross-round comparability) is
      // untouched. Setup writes are outside the timed regions.
      val mvSrc = s"$root/mv_src"; val mvSum = s"$root/mv_sum"
      GraftWriter.write(spark, orders, mvSrc,
        WriteOptions(mode = WriteMode.ErrorIfExists))
      time("maint_matview_build") {
        graft.ext.MaterializedAgg.refresh(spark, mvSrc, mvSum,
          Seq("o_orderstatus"), "o_totalprice")
      }
      GraftWriter.write(spark, orders.filter(col("o_orderkey") % 16 === 0),
        mvSrc, WriteOptions(mode = WriteMode.Append))
      time("maint_matview_refresh") {
        graft.ext.MaterializedAgg.refresh(spark, mvSrc, mvSum,
          Seq("o_orderstatus"), "o_totalprice")
      }
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val dsIdx = s"$root/dedup_idx"
      // seed = 15/16 of the corpus, batch = the remaining 1/16: ingest's
      // documented shape is "a crawl increment, not a corpus" (its band
      // relation broadcasts)
      time("maint_dedup_build") {
        graft.ext.DedupIndex.build(spark, dsIdx,
          docs.filter(col("doc_id") % 16 =!= 0))
      }
      time("maint_dedup_ingest") {
        graft.ext.DedupIndex.ingest(spark, dsIdx,
            docs.filter(col("doc_id") % 16 === 0))
          .write.format("noop").mode("overwrite").save()
      }
      val annSrc = s"$root/ann_src"; val annIdx = s"$root/ann_idx"
      GraftWriter.write(spark,
        spark.read.parquet(s"$sfDir/embeddings.parquet"), annSrc,
        WriteOptions(mode = WriteMode.ErrorIfExists))
      time("maint_ann_build") {
        graft.ext.AnnIndex.build(spark, annSrc, annIdx,
          coarseIters = 1, pqIters = 1)
      }
      time("maint_ann_search") {
        graft.ext.AnnIndex.search(spark, annIdx,
            GraftTable(spark, annSrc).toDf().filter(col("vec_id") < 32),
            k = 5, nprobe = 2)
          .write.format("noop").mode("overwrite").save()
      }
      // release the pins build/ingest registered before the next round
      graft.ext.Scratch.drain()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
    (acc.toSeq.map { case (k, raw) =>
      val s = raw.sorted
      (k, s(s.length / 2), s.head)
    }, failed.toSeq)
  }
}
