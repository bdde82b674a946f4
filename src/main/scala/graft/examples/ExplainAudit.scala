package graft.examples

import org.apache.spark.sql.functions._

import graft.core._
import graft.io._

/** Prints the physical plans the engine actually produces on key paths so
  * plan regressions (lost pushdown, lost broadcast, lost codegen) are
  * visible. Run: `sbt "runMain graft.examples.ExplainAudit"`.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession(4)

    val p = java.nio.file.Files.createTempDirectory("graft_audit").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    GraftWriter.write(spark, li, p,
      WriteOptions(mode = WriteMode.Overwrite, partitionBy = Seq("l_returnflag")))

    println("=== [A] graft scan with partition slice (expect PartitionFilters + pruned files) ===")
    val sliced = GraftTable(spark, p).scan(TableSlice("s", "t",
      Seq(StaticDimension("l_returnflag", Seq("A"))),
      columns = Some(Seq("l_orderkey", "l_quantity", "l_returnflag"))))
    sliced.explain("formatted")
    println(s"--- files in index: ${countFiles(sliced)} (PartitionFilters prune at execution)")

    println("=== [B] filter + projection pushdown to parquet (expect PushedFilters/ReadSchema) ===")
    val pushed = GraftTable(spark, p).toDf()
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    pushed.explain("formatted")

    println("=== [C] dim join (expect BroadcastHashJoin, no shuffle of fact side) ===")
    val q3 = graft.SparkEntry.queries("q03_revenue_by_nation")(spark, sfDir)
    q3.explain("formatted")

    println("=== [D] knn dot product (expect WholeStageCodegen over graft_dot) ===")
    val knn = graft.SparkEntry.queries("knn_brute_topk")(spark, sfDir)
    knn.explain("formatted")

    println("=== [E] deletion-vectored scan (expect PushedFilters intact + " +
      "WholeStageCodegen over the DvDeleted anti-filter) ===")
    graft.merge.Dml.delete(spark, p, col("l_quantity") > 45.0)
    spark.sql(s"ALTER TABLE graft.`$p` SET TBLPROPERTIES ('graft.dv'='true')")
    graft.merge.Dml.delete(spark, p, col("l_quantity") > 40.0)
    val dvScan = GraftTable(spark, p).toDf()
      .filter(col("l_orderkey") > 1000L)
      .select("l_orderkey", "l_quantity")
    dvScan.explain("formatted")

    println("=== [F] corpus_select (expect RangePartitioning exchange + " +
      "per-__pid window — NO single-partition global window) ===")
    val sel = graft.SparkEntry.queries("corpus_select")(spark, sfDir)
    sel.explain("formatted")
    // logical-plan check: under AQE the executedPlan is an adaptive
    // wrapper leaf, so a physical WindowExec collect would be vacuous
    val globalWindows = sel.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }.size
    println(s"--- empty-partitionSpec windows (must be 0): $globalWindows")

    println("=== [G] generated partition column scan (expect partition " +
      "pruning on the GENERATED column's value) ===")
    val gp = java.nio.file.Files.createTempDirectory("graft_audit_gen").toString
    GraftWriter.write(spark,
      spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_totalprice", "o_orderdate"),
      s"$gp/t", WriteOptions(mode = WriteMode.Overwrite,
        partitionBy = Seq("o_year"),
        metadata = Map(
          "graft.generated.o_year" -> "CAST(year(o_orderdate) AS STRING)")))
    val genScan = GraftTable(spark, s"$gp/t").toDf()
      .filter(col("o_year") === "1995")
      .select("o_orderkey")
    genScan.explain("formatted")
    println(s"--- files scanned: ${scannedFiles(genScan)} of " +
      s"${GraftTable(spark, s"$gp/t").snapshot().files.size}")

    println("=== [H] bloom point lookup (expect files scanned << files in " +
      "table on a key min/max cannot prune) ===")
    val bp = java.nio.file.Files.createTempDirectory("graft_audit_bloom").toString + "/t"
    GraftWriter.write(spark,
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars").repartition(8, col("doc_id")),
      bp, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(BloomFilters.PropKey -> "doc_id")))
    val bloomScan = spark.read.format("graft").load(bp)
      .filter(col("doc_id") === 123L)
    bloomScan.explain("formatted")
    println(s"--- files scanned: ${scannedFiles(bloomScan)} of " +
      s"${GraftTable(spark, bp).snapshot().files.size}")

    println("=== [I] ivf-pq residual ADC (expect broadcast query side + " +
      "cell-keyed join — no CartesianProduct, codes-only corpus) ===")
    val ivfpq = graft.SparkEntry.queries("knn_ivfpq_adc")(spark, sfDir)
    ivfpq.explain("formatted")
    val cartesians = ivfpq.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty => j
    }.size
    println(s"--- condition-less joins (must be 0): $cartesians")

    println("=== [J] exact rerank stage (expect BROADCAST joins for the " +
      "shortlist + query vectors — no corpus shuffle) ===")
    val rerank = graft.SparkEntry.queries("knn_ivfpq_rerank")(spark, sfDir)
    rerank.explain("formatted")
    val rerankShuffles = rerank.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    println(s"--- shuffle exchanges (topK partial-agg only; expect <= 2): " +
      rerankShuffles)

    println("=== [K] weighted Poisson sample (expect ONE scan + filter, " +
      "NO shuffle, NO sort) ===")
    val ws = graft.SparkEntry.queries("sample_weighted")(spark, sfDir)
    ws.explain("formatted")
    val wsShuffles = ws.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    println(s"--- shuffle exchanges (must be 0): $wsShuffles")

    println("=== [L] BPE / NFC per-row kernels (expect WholeStageCodegen " +
      "spans containing graft_bpe_count / graft_nfc_normalize) ===")
    val bpe = graft.SparkEntry.queries("text_bpe_count")(spark, sfDir)
    bpe.explain("formatted")

    println("=== [M] image decode pipeline (expect mapPartitions over a " +
      "single narrow scan — the codec seam) ===")
    val img = graft.SparkEntry.queries("image_decode_stats")(spark, sfDir)
    img.explain("formatted")

    println("=== [N] filtered IVF-PQ search (expect ONE scan of the " +
      "embedding column — candidates semi-join the pinned training " +
      "residuals; the predicate pass never re-reads vectors) ===")
    val filt = graft.SparkEntry.queries("knn_ivfpq_filtered")(spark, sfDir)
    filt.explain("formatted")
    val embScans = filt.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.schema.fieldNames.exists(_.contains("embedding")) => f
    }.size
    println(s"--- embedding-column scans in the final plan (must be <= 1, " +
      s"queries side only — corpus vectors live in the pinned residual " +
      s"block): $embScans")
    graft.ext.Scratch.drain()

    println("=== [O] per-group quantile gate (expect ONE exchange on the " +
      "group key — rank and count windows share the partitioning; no " +
      "global sort) ===")
    val qg = graft.SparkEntry.queries("quality_quantile_filter")(spark, sfDir)
    qg.explain("formatted")
    val qgExchanges = qg.queryExecution.executedPlan.toString()
      .split("\n").count(_.contains("Exchange "))
    println(s"--- exchanges in the plan (must be 1): $qgExchanges")

    println("=== [P] row-id read (expect ONE scan, ZERO exchanges, and the " +
      "data filter STILL pushed to parquet through the row-id projection) ===")
    val ridTbl = java.nio.file.Files.createTempDirectory("audit_rowid").toString
    graft.io.GraftWriter.write(spark,
      spark.range(0, 100000).selectExpr("id AS k", "id % 7 AS v").repartition(4),
      ridTbl, graft.io.WriteOptions(
        mode = graft.io.WriteMode.Overwrite,
        metadata = Map(graft.log.CommitLog.RowTrackingKey -> "true")))
    graft.io.GraftWriter.optimize(spark, ridTbl) // materializes ids
    val rid = graft.io.GraftTable(spark, ridTbl).toDfWithRowIds()
      .filter(org.apache.spark.sql.functions.col("k") > 99990L)
    rid.explain("formatted")
    val ridPlan = rid.queryExecution.executedPlan.toString()
    val ridScans = ridPlan.split("\n").count(_.contains("Scan parquet"))
    val ridExchanges = ridPlan.split("\n").count(_.contains("Exchange "))
    val ridPushed = ridPlan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,99990)")
    println(s"--- scans (must be 1): $ridScans; exchanges (must be 0): " +
      s"$ridExchanges; filter pushed below the row-id projection: $ridPushed; " +
      s"rows=${rid.count()}")

    println("=== [Q] dedup-store ingest probe (expect ONE store scan, " +
      "batch keys BROADCAST into the join, and a partial-aggregated " +
      "per-key count — no store-sized shuffle) ===")
    val dedupIdx = java.nio.file.Files
      .createTempDirectory("audit_dedup").toString + "/ix"
    val seedDocs = spark.range(0, 2000).selectExpr("id AS doc_id",
      "concat('document body text number ', id, ' with shared tail words') AS text")
    graft.ext.DedupIndex.build(spark, dedupIdx, seedDocs)
    val auditBands = graft.ext.Dedup.minhashBands(
      spark.range(5000, 5010).selectExpr("id AS doc_id",
        "concat('fresh crawl text ', id, ' never seen before') AS text"))
      .selectExpr("CAST(doc_id AS LONG) AS doc_id",
        "CAST(band_id AS LONG) AS band_id", "band_key")
    // the cap comes from the store's RECORDED params through the SAME
    // parser production ingest/probe use — nothing that can drift
    val auditCap = graft.ext.DedupIndex.paramsOf(
      graft.io.GraftTable(spark, dedupIdx))("maxDocsPerBand").toInt
    val probe = graft.ext.DedupIndex.hitKeysOf(
      graft.io.GraftTable(spark, dedupIdx).toDf(), auditBands, auditCap)
    probe.explain("formatted")
    val probePlan = probe.queryExecution.executedPlan.toString()
    val probeScans = probePlan.split("\n").count(_.contains("Scan parquet"))
    val probeBcast = probePlan.contains("BroadcastHashJoin")
    println(s"--- store scans (must be 1): $probeScans; batch side " +
      s"broadcast: $probeBcast; hit keys=${probe.count()}")

    println("=== [R] IVF-IP retrieval (expect the query side BROADCAST " +
      "and exactly ONE shuffle exchange — the bounded top-k " +
      "aggregation; candidates never leave their cells) ===")
    val ipHits = graft.SparkEntry.queries("knn_ivf_ip")(spark, sfDir)
    ipHits.explain("formatted")
    val ipPlan = ipHits.queryExecution.executedPlan.toString()
    val ipShuffles = ipPlan.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning"))
    val ipBcast = ipPlan.contains("BroadcastExchange")
    println(s"--- shuffle exchanges (must be 1): $ipShuffles; query side " +
      s"broadcast: $ipBcast; rows=${ipHits.count()}")

    println("=== [S] persisted IP-index search (expect a PARTITION filter " +
      "on cell — only probed cells' files read — plus broadcast query " +
      "tables and ONE shuffle, the bounded top-k) ===")
    val ipSrc = java.nio.file.Files
      .createTempDirectory("audit_annip").toString
    val ipIdx = ipSrc + "/ix"
    GraftWriter.write(spark,
      spark.read.parquet(s"$sfDir/embeddings.parquet"), ipSrc + "/src",
      WriteOptions(mode = WriteMode.Overwrite))
    graft.ext.AnnIndex.build(spark, ipSrc + "/src", ipIdx, metric = "ip")
    val ipSearch = graft.ext.AnnIndex.search(spark, ipIdx,
      GraftTable(spark, ipSrc + "/src").toDf().filter(col("vec_id") < 4),
      k = 3)
    ipSearch.explain("formatted")
    println(s"--- codes files read: ${scannedFiles(ipSearch)} of " +
      s"${GraftTable(spark, ipIdx).snapshot().files.size} (partition " +
      "pruning = probed cells only)")

    println("=== [T] matview extremum recompute (expect the flagged key " +
      "set BROADCAST into a left-semi join over ONE narrow source scan " +
      "— keys + extremum columns only — and a partial-aggregated " +
      "groupBy; dynamic partition pruning narrows a key-partitioned " +
      "source) ===")
    val mmSrc = java.nio.file.Files
      .createTempDirectory("audit_mm").toString + "/src"
    GraftWriter.write(spark,
      spark.read.parquet(s"$sfDir/orders.parquet")
        .selectExpr("o_orderkey", "o_orderpriority AS prio",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c"),
      mmSrc, WriteOptions(mode = WriteMode.Overwrite,
        partitionBy = Seq("prio")))
    import spark.implicits._
    val flagged = Seq("1-URGENT", "3-MEDIUM").toDF("prio")
    val rec = graft.ext.MaterializedAgg.recomputeExtrema(
      GraftTable(spark, mmSrc).toDf(), flagged, Seq("prio"), Seq("price_c"))
    rec.explain("formatted")
    val recPlan = rec.queryExecution.executedPlan.toString()
    val recBcast = recPlan.contains("BroadcastHashJoin") &&
      recPlan.contains("LeftSemi")
    val recScans = recPlan.split("\n").count(_.contains("Scan parquet"))
    println(s"--- flag set broadcast into LeftSemi: $recBcast; source " +
      s"scans (must be 1): $recScans; recomputed groups=${rec.count()} " +
      "(only the flagged ones)")

    println("=== [U] hybrid RRF retrieval (expect BOTH candidate lists " +
      "bounded by TakeOrderedAndProject — distributed top-N, never a " +
      "global sort — the query vector BROADCAST into the dense branch, " +
      "and the fusion join over two <=nCand-row lists) ===")
    val hybrid = graft.ext.Retrieval.hybridRrfTopK(
      spark.read.parquet(s"$sfDir/documents.parquet"),
      spark.read.parquet(s"$sfDir/embeddings.parquet"),
      Seq("spark", "query", "merge"), queryVecId = 7L, k = 5)
    hybrid.explain("formatted")
    val hPlan = hybrid.queryExecution.executedPlan.toString()
    val hTopN = hPlan.split("\n").count(_.contains("TakeOrderedAndProject"))
    println(s"--- TakeOrderedAndProject nodes (must be >= 2 — one per " +
      s"candidate list bound): $hTopN; residual Sort nodes (rank " +
      "windows ABOVE the top-N bounds — each sorts <= nCand rows, " +
      s"never the corpus): " +
      s"${hPlan.split("\n").count(l => l.contains("Sort ") && !l.contains("SortMergeJoin"))}; " +
      s"rows=${hybrid.count()}")

    println("=== [V] transparent matview rewrite (expect the optimized " +
      "plan to scan the VIEW's summary files only — the source is " +
      "never read; the rollup variant adds one O(groups) re-aggregate) ===")
    val rwSrc = java.nio.file.Files
      .createTempDirectory("audit_rw").toString + "/src"
    val rwView = rwSrc + "_view"
    GraftWriter.write(spark,
      spark.read.parquet(s"$sfDir/orders.parquet")
        .selectExpr("o_orderkey", "o_orderpriority AS prio",
          "o_orderstatus AS stat",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS price_c"),
      rwSrc, WriteOptions(mode = WriteMode.Overwrite,
        metadata = Map(graft.io.Cdc.PropKey -> "true")))
    spark.sql(s"CREATE MATERIALIZED VIEW graft.`$rwView` AS " +
      s"SELECT prio, stat, sum(price_c) AS s, count(*) AS n " +
      s"FROM graft.`$rwSrc` GROUP BY prio, stat").collect()
    spark.conf.set(graft.plans.MatviewRewriteRule.ConfKey, rwView)
    val rwQ = spark.sql(s"SELECT stat, sum(price_c) AS s, count(*) AS n " +
      s"FROM graft.`$rwSrc` GROUP BY stat")
    rwQ.explain("formatted")
    val rwScans = rwQ.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location match {
              case ix: graft.sources.GraftFileIndex =>
                Seq(ix.scannedTablePath)
              case px: graft.sources.PinnedSizeFileIndex =>
                Seq(px.underlying.scannedTablePath)
              case _ => Nil
            }
          case _ => Nil
        }
    }.flatten
    spark.conf.unset(graft.plans.MatviewRewriteRule.ConfKey)
    println(s"--- scans view only: ${rwScans.contains(rwView) &&
      !rwScans.contains(rwSrc)} (scanned: ${rwScans.mkString(", ")}); " +
      s"rollup rows=${rwQ.count()}")

    spark.stop()
  }

  private def countFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f.relation.location.inputFiles.length.toLong
    }.sum
  }

  /** Files ACTUALLY read (post partition-pruning/skipping): execute and
    * read the scan's numFiles metric — `inputFiles` above is the
    * pre-pruning index listing. AQE hides scans inside adaptive
    * wrappers and query stages (both leaves to `collect`), so unwrap
    * them explicitly or an aggregating query reads as "0 files".
    */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def from(p: org.apache.spark.sql.execution.SparkPlan): Long =
      p.collect {
        case a: AdaptiveSparkPlanExec => from(a.executedPlan)
        case s: QueryStageExec => from(s.plan)
        case f: FileSourceScanExec =>
          f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    from(df.queryExecution.executedPlan)
  }
}
