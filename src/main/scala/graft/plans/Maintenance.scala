package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, MapType, StringType}

import graft.io.{GraftTable, GraftWriter}

/** Table-maintenance SQL statements (the Delta utility surface):
  *
  * {{{
  * VACUUM <table> [RETAIN n HOURS] [DRY RUN]
  * OPTIMIZE <table> [WHERE <partition predicate>] [ZORDER BY (c1, ...)]
  * DESCRIBE HISTORY <table>
  * DESCRIBE DETAIL <table>
  * RESTORE [TABLE] <table> TO VERSION AS OF v
  * }}}
  *
  * `<table>` is either a path (`graft.`/p``) or a catalog name
  * (`cat.ns.tbl` over a [[graft.catalog.GraftCatalog]]). Spark's
  * grammar has no such statements, so [[GraftSqlParser]] recognizes
  * them with anchored patterns before delegating everything else.
  * Catalog names resolve to paths at execution time through the
  * session's CatalogManager.
  */
object GraftMaintenance {

  /** Table path of a maintenance/CDF target: a literal path, a graft
    * DSv2 catalog name, or a session-catalog `USING graft` table (path
    * from its storage options/location). A name whose leading part IS a
    * registered non-graft, non-session catalog errors loudly — falling
    * through to the session catalog could silently serve a same-named
    * different table.
    */
  def resolvePath(spark: SparkSession, target: Either[String, Seq[String]]): String =
    target match {
      case Left(path) => path
      case Right(parts) =>
        val catOpt =
          if (parts.length < 2) None
          else
            try Some(spark.sessionState.catalogManager.catalog(parts.head))
            catch { case scala.util.control.NonFatal(_) => None }
        catOpt match {
          case Some(g: graft.catalog.GraftCatalog) =>
            g.pathForIdent(Identifier.of(parts.tail.init.toArray, parts.last))
          case Some(other) if parts.head != "spark_catalog" =>
            throw new IllegalArgumentException(
              s"'${parts.head}' is not a graft catalog (got $other)")
          case _ => // session-catalog `USING graft` table
            val ident = parts.filterNot(_ == "spark_catalog") match {
              case Seq(t)     => org.apache.spark.sql.catalyst.TableIdentifier(t)
              case Seq(db, t) =>
                org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
              case bad => throw new IllegalArgumentException(
                s"cannot resolve table name ${bad.mkString(".")}")
            }
            val meta = spark.sessionState.catalog.getTableMetadata(ident)
            require(meta.provider.exists(_.equalsIgnoreCase("graft")),
              s"'${parts.mkString(".")}' is not a graft table " +
                s"(provider ${meta.provider.getOrElse("none")})")
            meta.storage.properties.get("path")
              .orElse(meta.storage.locationUri.map(_.toString))
              .getOrElse(throw new IllegalArgumentException(
                s"'${parts.mkString(".")}' has no path in its storage options"))
        }
    }
}

/** `GENERATE symlink_format_manifest FOR TABLE t` — Delta's external
  * interop surface ([[graft.io.GraftTable.generateSymlinkManifest]]).
  */
final case class GraftGenerateCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("manifest", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    GraftTable(spark, path).generateSymlinkManifest().map(Row(_))
  }
}

/** `COPY INTO t FROM '/src' [FILEFORMAT = PARQUET] [PATTERN = 'glob']
  * [FILES = ('a.parquet', ...)] [MERGE SCHEMA]` — idempotent
  * foreign-file ingestion ([[graft.io.CopyInto]]): files already
  * recorded are skipped; a fully-skipped run commits nothing. Returns
  * (version, ingested, skipped) — version is NULL on a no-op.
  */
final case class GraftCopyIntoCommand(
    target: Either[String, Seq[String]],
    sourceDir: String,
    format: String,
    mergeSchema: Boolean,
    pattern: Option[String] = None,
    files: Option[Seq[String]] = None,
    /** `FORMAT_OPTIONS ('header' = 'false', ...)` — text-format reader
      * options over the loud defaults (see
      * [[graft.io.CopyInto.copyInto]]).
      */
    formatOptions: Map[String, String] = Map.empty) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = true)(),
    AttributeReference("ingested_files", LongType, nullable = false)(),
    AttributeReference("skipped_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    val r = graft.io.CopyInto.copyInto(spark, path, sourceDir, format,
      mergeSchema = mergeSchema, pattern = pattern, files = files,
      formatOptions = formatOptions)
    Seq(Row(r.version.map(Long.box).orNull,
      r.ingestedFiles.toLong, r.skippedFiles.toLong))
  }
}

/** `CREATE MATERIALIZED VIEW s AS SELECT k..., sum(v) FROM src GROUP BY
  * k...` — the SQL face of [[graft.ext.MaterializedAgg]]: one full
  * aggregate now, then `REFRESH MATERIALIZED VIEW` applies per-key
  * change-feed deltas (work scales with changed rows, never a source
  * rescan). The view definition and source-version watermark ride the
  * creating commit as carried properties. The SELECT shape is
  * deliberately the one the incremental engine maintains exactly:
  * grouping keys plus integral `sum(col)` entries (one column lands as
  * `sum_val`/`n_rows`/`n_vals` regardless of alias; several land as
  * `sum_<col>`/`nvals_<col>` plus the shared `n_rows`).
  */
final case class GraftCreateMatViewCommand(
    target: Either[String, Seq[String]],
    source: Either[String, Seq[String]],
    selectList: String,
    groupBy: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("source_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcPath = GraftMaintenance.resolvePath(spark, source)
    val dstPath = GraftMaintenance.resolvePath(spark, target)
    require(!GraftTable.exists(spark, dstPath),
      s"materialized view target already exists: $dstPath")
    // select list = the grouping keys (bare identifiers) + aggregate
    // entries. Maintainable forms: sum(col) (maintained directly),
    // avg(col) / count(col) / count(*) (DERIVED at read time from the
    // maintained sum_<col>/nvals_<col>/n_rows — no new maintenance
    // math), min(col) / max(col) (inserts fold incrementally; a delete
    // touching a group's current extremum recomputes ONLY that group
    // from the source — bounded by the changed keys, never a rescan of
    // the view), count(DISTINCT col) (exact, via an incrementally
    // maintained support relation — see MaterializedAgg.DistinctKey).
    val aggRe = """(?i)^(sum|avg|count|min|max)\s*\(\s*(?:(distinct)\s+)?([\w.]+|\*)\s*\)(?:\s+as\s+(\w+))?$""".r
    val items = selectList.split(',').map(_.trim).filter(_.nonEmpty)
    val (aggItems, keys) = items.partition(aggRe.pattern.matcher(_).matches())
    require(aggItems.nonEmpty,
      "CREATE MATERIALIZED VIEW needs at least one aggregate " +
        s"(sum/avg/count/min/max/count(distinct)) in the select list; " +
        s"got: $selectList")
    keys.foreach(k => require(k.matches("""[\w.]+"""),
      s"materialized-view select entries must be grouping keys or " +
        s"sum(col)/avg(col)/count(col)/count(*)/min(col)/max(col)/" +
        s"count(distinct col); cannot maintain '$k' incrementally"))
    require(keys.map(_.toLowerCase).toSet == groupBy.map(_.toLowerCase).toSet,
      s"select keys ${keys.mkString(",")} must equal GROUP BY " +
        groupBy.mkString(","))
    val entries: Seq[(String, String, String)] = aggItems.toSeq.map {
      case aggRe(fn0, distinctKw, c, alias) =>
        val fn0l = fn0.toLowerCase(java.util.Locale.ROOT)
        require(distinctKw == null || fn0l == "count",
          s"$fn0l(DISTINCT $c) is not incrementally maintainable " +
            "(only count(DISTINCT col) is)")
        require(c != "*" || fn0l == "count", s"$fn0l(*) is not a valid aggregate")
        require(distinctKw == null || c != "*",
          "count(DISTINCT *) is not a valid aggregate")
        val fn = if (distinctKw != null) "countd" else fn0l
        (fn, c, Option(alias).getOrElse(""))
    }
    val valueCols = entries
      .collect { case (fn, c, _)
        if c != "*" && fn != "min" && fn != "max" && fn != "countd" => c }
      .distinct
    val minMaxCols = entries
      .collect { case (fn, c, _) if fn == "min" || fn == "max" => c }
      .distinct
    val distinctCols = entries
      .collect { case ("countd", c, _) => c }
      .distinct
    // preserve the SELECT's key order (groupBy order may differ); the
    // requested forms ride the creating commit so readView can serve
    // avg/count derived from the maintained columns
    val v = graft.ext.MaterializedAgg.refreshSums(
      spark, srcPath, dstPath, keys.toSeq, valueCols,
      createProps = Map(graft.ext.MaterializedAgg.SelectKey ->
        entries.map { case (fn, c, al) => s"$fn:$c:$al" }.mkString(",")),
      minMaxCols = minMaxCols,
      distinctCols = distinctCols)
    Seq(Row(v.getOrElse(
      throw new IllegalStateException("initial build applied no version"))))
  }
}

/** `DROP MATERIALIZED VIEW s` — removes the summary AND its
  * `count(DISTINCT)` support relations (recorded in the carried
  * definition; a user should never have to know the sibling-aux layout
  * to clean up a view). Refuses any table without the matview
  * properties — a typo'd path must never delete a data table — and
  * refuses a SUPPORT RELATION whose owning view still records it (a
  * direct aux drop would break the owner's reads until the next
  * REFRESH rebuilt it; redirect to the owner instead). An aux whose
  * owner is gone (manual partial cleanup) drops normally.
  */
final case class GraftDropMatViewCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.ext.MaterializedAgg
    val path = GraftMaintenance.resolvePath(spark, target)
    require(GraftTable.exists(spark, path), s"not a graft table: $path")
    val props = GraftTable(spark, path).log.tableProperties()
    require(props.contains(MaterializedAgg.SourceKey),
      s"$path is not a materialized view (missing " +
        s"${MaterializedAgg.SourceKey}); refusing to delete a " +
        "data table")
    val norm = path.stripSuffix("/")
    // support relations carry the matview property set too — identify
    // one by its stamped owner marker, or (pre-marker auxes) by the
    // `<view>__distinct_<col>` naming contract, and refuse while the
    // owner still records it
    val AuxNameRe = "^(.*)__distinct_([^/]+)$".r
    // BOTH candidates are checked — a stale owner marker (the owner was
    // moved/recreated) must not shadow a live owner the naming contract
    // still points at
    val ownerCandidates = (props.get(MaterializedAgg.AuxOfKey).toSeq ++
      (norm match {
        case AuxNameRe(owner, _) => Seq(owner)
        case _ => Nil
      })).map(_.stripSuffix("/")).distinct
    val liveOwner = ownerCandidates.find { o =>
      o != norm && GraftTable.exists(spark, o) && {
        val op = GraftTable(spark, o).log.tableProperties()
        op.getOrElse(MaterializedAgg.DistinctKey, "")
          .split(',').filter(_.nonEmpty)
          .exists(c =>
            MaterializedAgg.distinctAuxPath(o, c).stripSuffix("/") == norm)
      }
    }
    require(liveOwner.isEmpty,
      s"$path is the count(DISTINCT) support relation of the " +
        s"materialized view at ${liveOwner.getOrElse("")}; dropping it " +
        "directly would break the owning view's reads — DROP " +
        "MATERIALIZED VIEW the owner instead (it removes its support " +
        "relations too)")
    // recorded auxes: confirm each actually honors the aux contract
    // before the recursive delete — a foreign table that happens to sit
    // at the aux name must be refused, a missing one (crash before the
    // aux build) skipped
    val auxes = props.getOrElse(MaterializedAgg.DistinctKey, "")
      .split(',').toSeq.filter(_.nonEmpty)
      .map(c => MaterializedAgg.distinctAuxPath(path, c))
      .filter(GraftTable.exists(spark, _))
    auxes.foreach { p =>
      val ap = GraftTable(spark, p).log.tableProperties()
      require(ap.contains(MaterializedAgg.SourceKey),
        s"refusing to delete $p: recorded as a count(DISTINCT) support " +
          "relation but it is not a materialized aggregate — remove it " +
          "manually if it is truly foreign")
      ap.get(MaterializedAgg.AuxOfKey).foreach(o =>
        require(o.stripSuffix("/") == norm,
          s"refusing to delete $p: it records ${o} as its owning view, " +
            s"not $path"))
    }
    val conf = spark.sessionState.newHadoopConf()
    (auxes :+ path).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).delete(hp, true)
    }
    (auxes :+ path).map(Row(_))
  }
}

/** `REFRESH MATERIALIZED VIEW s` — incremental delta refresh from the
  * recorded definition; `source_version` is NULL when already current.
  */
final case class GraftRefreshMatViewCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("source_version", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    Seq(Row(graft.ext.MaterializedAgg.refreshByTarget(spark, path)
      .map(Long.box).orNull))
  }
}

/** `CREATE VECTOR INDEX i ON t (vecCol) [ID idCol] [OPTIONS('k'='v')]` —
  * the SQL face of [[graft.ext.AnnIndex.build]]: train coarse + PQ
  * quantizers on the source and commit the cell-partitioned codes table
  * at `target`. OPTIONS keys (quoted ints): `numCells`, `m`, `ksub`,
  * `coarseIters`, `pqIters`; plus `metric` (`'l2'` default | `'ip'` —
  * the MIPS posture: dot-assigned cells, raw-vector books, descending
  * inner-product ADC). Returns the source version the codes reflect;
  * `REFRESH VECTOR INDEX` then folds the source change feed
  * incrementally and `DROP VECTOR INDEX` removes the codes table.
  */
final case class GraftCreateVectorIndexCommand(
    target: Either[String, Seq[String]],
    source: Either[String, Seq[String]],
    vecCol: String,
    idCol: Option[String],
    options: Map[String, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("indexed_source_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val idxPath = GraftMaintenance.resolvePath(spark, target)
    val srcPath = GraftMaintenance.resolvePath(spark, source)
    val known = Seq("numCells", "m", "ksub", "coarseIters", "pqIters", "metric")
    val unknown = options.keys.filterNot(known.contains)
    require(unknown.isEmpty,
      s"unknown vector-index OPTIONS: ${unknown.mkString(", ")} " +
        s"(expected: ${known.mkString(", ")})")
    def intOf(k: String, d: Int) = options.get(k).map(_.trim.toInt).getOrElse(d)
    graft.ext.AnnIndex.build(spark, srcPath, idxPath,
      numCells = intOf("numCells", 32),
      m = intOf("m", 16),
      ksub = intOf("ksub", 16),
      coarseIters = intOf("coarseIters", 0),
      pqIters = intOf("pqIters", 0),
      idCol = idCol.getOrElse("vec_id"),
      vecCol = vecCol,
      metric = options.getOrElse("metric", "l2").trim.toLowerCase)
    Seq(Row(graft.ext.AnnIndex.status(spark, idxPath).indexedVersion))
  }
}

/** `REFRESH VECTOR INDEX i` — incremental change-feed fold
  * ([[graft.ext.AnnIndex.refresh]]); `source_version` is NULL when the
  * index was already current.
  */
final case class GraftRefreshVectorIndexCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("source_version", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    Seq(Row(graft.ext.AnnIndex.refresh(spark, path).map(Long.box).orNull))
  }
}

/** `DROP VECTOR INDEX i` — removes the codes table. Refuses any table
  * that does not carry the index properties: a typo'd path must never
  * delete a DATA table.
  */
final case class GraftDropVectorIndexCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    require(GraftTable.exists(spark, path), s"not a graft table: $path")
    val props = GraftTable(spark, path).log.tableProperties()
    require(props.contains(graft.ext.AnnIndex.SourcePathKey),
      s"$path is not a vector index (missing " +
        s"${graft.ext.AnnIndex.SourcePathKey}); refusing to delete a " +
        "data table")
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    Seq(Row(path))
  }
}

/** `CREATE DEDUP STORE s ON t (textCol) [ID idCol] [OPTIONS('k'='v')]` —
  * the SQL face of [[graft.ext.DedupIndex.buildFromTable]]: MinHash LSH
  * fingerprints of the source land as a graft table coupled to the
  * source's change feed. OPTIONS keys (quoted ints): `perms`,
  * `rowsPerBand`, `maxDocsPerBand`. `REFRESH DEDUP STORE` mirrors
  * source churn incrementally; `DROP DEDUP STORE` removes the store.
  * (The gatekeeper/probe verbs stay Scala — `DedupIndex.ingest/probe`
  * take arbitrary DataFrames, which SQL statements cannot.)
  */
final case class GraftCreateDedupStoreCommand(
    target: Either[String, Seq[String]],
    source: Either[String, Seq[String]],
    textCol: String,
    idCol: Option[String],
    options: Map[String, String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("mirrored_source_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val storePath = GraftMaintenance.resolvePath(spark, target)
    val srcPath = GraftMaintenance.resolvePath(spark, source)
    val known = Seq("perms", "rowsPerBand", "maxDocsPerBand")
    val unknown = options.keys.filterNot(known.contains)
    require(unknown.isEmpty,
      s"unknown dedup-store OPTIONS: ${unknown.mkString(", ")} " +
        s"(expected: ${known.mkString(", ")})")
    def intOf(k: String, d: Int) = options.get(k).map(_.trim.toInt).getOrElse(d)
    graft.ext.DedupIndex.buildFromTable(spark, srcPath, storePath,
      perms = intOf("perms", 16),
      rowsPerBand = intOf("rowsPerBand", 4),
      maxDocsPerBand = intOf("maxDocsPerBand", 500),
      idCol = idCol.getOrElse("doc_id"),
      textCol = textCol)
    Seq(Row(GraftTable(spark, storePath).log.tableProperties()(
      graft.ext.DedupIndex.SourceVersionKey).toLong))
  }
}

/** `REFRESH DEDUP STORE s` — incremental change-feed mirror
  * ([[graft.ext.DedupIndex.refresh]]); NULL when already current.
  */
final case class GraftRefreshDedupStoreCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("source_version", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    Seq(Row(graft.ext.DedupIndex.refresh(spark, path).map(Long.box).orNull))
  }
}

/** `DROP DEDUP STORE s` — removes the fingerprint table; refuses any
  * table without the store properties (a typo'd path must never delete
  * a data table).
  */
final case class GraftDropDedupStoreCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    require(GraftTable.exists(spark, path), s"not a graft table: $path")
    require(GraftTable(spark, path).log.tableProperties()
      .contains(graft.ext.DedupIndex.ParamsKey),
      s"$path is not a dedup store (missing " +
        s"${graft.ext.DedupIndex.ParamsKey}); refusing to delete a data table")
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sessionState.newHadoopConf()).delete(hp, true)
    Seq(Row(path))
  }
}

/** `DESCRIBE VECTOR INDEX i` — the staleness AND quantizer-drift
  * advisory as one SQL row ([[graft.ext.AnnIndex.status]] with the
  * bounded drift probe): when `rebuild_recommended` is true, REFRESH
  * keeps degrading recall and a re-`CREATE` is due.
  */
final case class GraftDescribeVectorIndexCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source_path", StringType, nullable = false)(),
    AttributeReference("metric", StringType, nullable = false)(),
    AttributeReference("indexed_version", LongType, nullable = false)(),
    AttributeReference("source_version", LongType, nullable = true)(),
    AttributeReference("stale", org.apache.spark.sql.types.BooleanType,
      nullable = true)(),
    AttributeReference("build_distortion_e6", LongType, nullable = true)(),
    AttributeReference("current_distortion_e6", LongType, nullable = true)(),
    AttributeReference("rebuild_recommended",
      org.apache.spark.sql.types.BooleanType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    val props = GraftTable(spark, path).log.tableProperties()
    val src = props.getOrElse(graft.ext.AnnIndex.SourcePathKey,
      throw new IllegalStateException(
        s"$path is not a vector index (missing " +
          s"${graft.ext.AnnIndex.SourcePathKey})"))
    val indexedV = props(graft.ext.AnnIndex.SourceVersionKey).toLong
    val metric = graft.ext.AnnIndex.params(props).metric
    // a dangling source (vacuumed/moved) must still DESCRIBE — this row
    // IS the diagnostic; version/drift columns read NULL then
    scala.util.Try(
      graft.ext.AnnIndex.status(spark, path, probeDrift = true)) match {
      case scala.util.Success(st) =>
        Seq(Row(src, metric, st.indexedVersion, st.sourceVersion, st.stale,
          st.buildDistortionE6.map(Long.box).orNull,
          st.currentDistortionE6.map(Long.box).orNull,
          Boolean.box(st.rebuildRecommended)))
      case scala.util.Failure(_) =>
        Seq(Row(src, metric, indexedV, null, null,
          props.get(graft.ext.AnnIndex.DistortionKey)
            .map(v => Long.box(v.toLong)).orNull,
          null, null))
    }
  }
}

/** `DESCRIBE DEDUP STORE s [WITH STATS]` — coupling, watermark,
  * parameters, and the fingerprint row count from commit-log metadata
  * alone (the default stays scan-free — an operator reading staleness
  * must never pay a store-wide job). `WITH STATS` additionally runs
  * the band-health advisory (one partial-aggregated store scan — the
  * dedup analog of the vector index's opt-in drift probe): `hot_bands`
  * counts band keys AT the `maxDocsPerBand` cap. Capped bands are
  * where candidate recall is being truncated — a build on
  * boilerplate-heavy data legitimately caps a few, but a CREEPING
  * count means the banding parameters are too coarse for the corpus
  * and the store should be re-created with more permutations /
  * rows-per-band. Without WITH STATS the three stat columns read NULL.
  */
final case class GraftDescribeDedupStoreCommand(
    target: Either[String, Seq[String]],
    withStats: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source_path", StringType, nullable = true)(),
    AttributeReference("mirrored_version", LongType, nullable = true)(),
    AttributeReference("source_version", LongType, nullable = true)(),
    AttributeReference("stale", org.apache.spark.sql.types.BooleanType,
      nullable = true)(),
    AttributeReference("params", StringType, nullable = false)(),
    AttributeReference("fingerprints", LongType, nullable = false)(),
    AttributeReference("distinct_bands", LongType, nullable = true)(),
    AttributeReference("hot_bands", LongType, nullable = true)(),
    AttributeReference("max_band_docs", LongType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val path = GraftMaintenance.resolvePath(spark, target)
    val t = GraftTable(spark, path)
    val props = t.log.tableProperties()
    val params = props.getOrElse(graft.ext.DedupIndex.ParamsKey,
      throw new IllegalStateException(s"$path is not a dedup store"))
    val cap = params.split(',').map(_.split("=", 2))
      .collectFirst { case Array("maxDocsPerBand", v) => v.toInt }
      .getOrElse(Int.MaxValue)
    val srcPath = props.get(graft.ext.DedupIndex.SourcePathKey)
    val mirrored = props.get(graft.ext.DedupIndex.SourceVersionKey).map(_.toLong)
    // a dangling coupling (source vacuumed/moved) must still DESCRIBE —
    // this row is the diagnostic that shows the dangle; version/stale
    // read NULL (the columns are nullable for exactly this shape)
    val srcV = srcPath.flatMap(p =>
      scala.util.Try(GraftTable(spark, p).version()).toOption)
    // band health (opt-in): per-(band_id, band_key) doc counts,
    // partial-aggregated — one narrow store scan, the shuffle carries
    // one row per distinct band
    val bandStats =
      if (!withStats) None
      else Some(t.toDf()
        .groupBy(col("band_id"), col("band_key"))
        .agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("bands"),
          count(org.apache.spark.sql.functions
            .when(col("n") >= cap, 1)).as("hot"),
          max(col("n")).as("mx"))
        .head())
    Seq(Row(
      srcPath.orNull,
      mirrored.map(Long.box).orNull,
      srcV.map(Long.box).orNull,
      (for { m <- mirrored; s <- srcV } yield Boolean.box(s > m)).orNull,
      params,
      t.snapshot().files.map(_.liveRecords).sum,
      bandStats.map(r => Long.box(r.getLong(0))).orNull,
      bandStats.map(r => Long.box(r.getLong(1))).orNull,
      bandStats.filterNot(_.isNullAt(2))
        .map(r => Long.box(r.getLong(2))).orNull))
  }
}

/** Shared walk for the SHOW ... IN 'root' statements: every graft table
  * under `root` (identified by its `_graft_log` directory), descent
  * stopping at table boundaries (a table's partition/data subtree is
  * never entered) and bounded at `maxDepth` directory levels — lake
  * roots keep tables shallow, and the bound keeps the driver-side
  * listing cheap on arbitrarily deep foreign trees.
  */
private[graft] object GraftTableWalk {
  /** @return the tables found, plus whether the walk was DEPTH-TRUNCATED
    * — some directory at `maxDepth` still had subdirectories the walk
    * never entered, so "no rows" must not read as "none exist". The
    * SHOW statements surface the flag as a warning and accept
    * `MAX DEPTH n` to widen the walk.
    */
  def graftTablesUnder(
      spark: SparkSession, root: String, maxDepth: Int = 3)
      : (Seq[String], Boolean) = {
    require(maxDepth >= 0, s"MAX DEPTH must be non-negative, got $maxDepth")
    val conf = spark.sessionState.newHadoopConf()
    val rp0 = new org.apache.hadoop.fs.Path(root)
    val fs = rp0.getFileSystem(conf)
    val rp = fs.makeQualified(rp0)
    if (!fs.exists(rp)) return (Nil, false)
    // emit each hit under the CALLER's root spelling: the filesystem
    // walks fully-qualified paths (file:/…, s3a://bucket/…), but the
    // returned strings must round-trip into DESCRIBE / GraftTable on
    // the same filesystem — stripping to toUri.getPath would lose the
    // scheme/authority and resolve an s3a:// root's hits against the
    // DEFAULT filesystem
    val rootStr = root.stripSuffix("/")
    val qualRoot = rp.toString.stripSuffix("/")
    def emit(p: org.apache.hadoop.fs.Path): String =
      rootStr + p.toString.stripPrefix(qualRoot)
    var truncated = false
    def walk(p: org.apache.hadoop.fs.Path, depth: Int): Seq[String] =
      if (fs.exists(new org.apache.hadoop.fs.Path(p, "_graft_log")))
        Seq(emit(p)) // a table: never descend into its data
      else if (depth >= maxDepth) {
        // one extra listing per BOUNDARY dir (few): only a real
        // truncation — subdirectories exist that were never visited —
        // flags; an empty leaf at the bound does not
        if (fs.listStatus(p).exists(_.isDirectory)) truncated = true
        Nil
      }
      else fs.listStatus(p).filter(_.isDirectory).toSeq
        .flatMap(st => walk(st.getPath, depth + 1))
    val hits = walk(rp, 0).sorted
    if (truncated)
      System.err.println(
        s"[graft] SHOW ... IN '$root': discovery stopped at MAX DEPTH " +
          s"$maxDepth with unexplored subdirectories below the bound — " +
          "results may be incomplete; re-run with a larger MAX DEPTH n")
    (hits, truncated)
  }
}

/** `DESCRIBE MATERIALIZED VIEW v` — the matview counterpart of
  * DESCRIBE VECTOR INDEX / DEDUP STORE: the recorded definition, the
  * watermark vs the source's current version (staleness), the
  * count(DISTINCT) support relations with their convergence state, and
  * — when the target IS a support relation — its owning view. One
  * metadata-only row; the data stays unread.
  */
final case class GraftDescribeMatViewCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("source_path", StringType, nullable = false)(),
    AttributeReference("group_keys", StringType, nullable = false)(),
    AttributeReference("sum_cols", StringType, nullable = true)(),
    AttributeReference("minmax_cols", StringType, nullable = true)(),
    AttributeReference("distinct_cols", StringType, nullable = true)(),
    AttributeReference("select_forms", StringType, nullable = true)(),
    AttributeReference("view_version", LongType, nullable = false)(),
    AttributeReference("source_version", LongType, nullable = true)(),
    AttributeReference("stale", org.apache.spark.sql.types.BooleanType,
      nullable = true)(),
    AttributeReference("support_relations", StringType, nullable = true)(),
    AttributeReference("supports_consistent",
      org.apache.spark.sql.types.BooleanType, nullable = true)(),
    AttributeReference("aux_of", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] = {
    import graft.ext.MaterializedAgg
    val path = GraftMaintenance.resolvePath(spark, target)
    require(GraftTable.exists(spark, path), s"not a graft table: $path")
    val props = GraftTable(spark, path).log.tableProperties()
    require(props.contains(MaterializedAgg.SourceKey),
      s"$path is not a materialized view (missing " +
        s"${MaterializedAgg.SourceKey})")
    val source = props(MaterializedAgg.SourceKey)
    def recorded(k: String): Seq[String] =
      props.getOrElse(k, "").split(',').toSeq.filter(_.nonEmpty)
    val dist = recorded(MaterializedAgg.DistinctKey)
    val viewV = props(MaterializedAgg.SourceVersionKey).toLong
    // a dangling source (vacuumed/moved) still DESCRIBEs — this row is
    // the diagnostic showing the dangle; version/stale read NULL
    val srcV = scala.util.Try(GraftTable(spark, source).version()).toOption
    val auxes = dist.map(c => MaterializedAgg.distinctAuxPath(path, c))
    // convergence: every support relation exists and reflects the SAME
    // source version as the summary (a split means a crashed refresh —
    // one more REFRESH converges; NULL when there are none)
    val consistent =
      if (dist.isEmpty) null
      else Boolean.box(auxes.forall(a =>
        GraftTable.exists(spark, a) &&
          scala.util.Try(GraftTable(spark, a).log.tableProperties()(
            MaterializedAgg.SourceVersionKey).toLong).toOption
            .contains(viewV)))
    Seq(Row(
      source,
      props(MaterializedAgg.KeysKey),
      props.get(MaterializedAgg.ValueKey).orNull,
      props.get(MaterializedAgg.MinMaxKey).orNull,
      props.get(MaterializedAgg.DistinctKey).orNull,
      props.get(MaterializedAgg.SelectKey).orNull,
      viewV,
      srcV.map(Long.box).orNull,
      srcV.map(v => Boolean.box(v > viewV)).orNull,
      if (auxes.isEmpty) null else auxes.mkString(","),
      consistent,
      props.get(MaterializedAgg.AuxOfKey).orNull))
  }
}

/** `SHOW VECTOR INDEXES IN '/lake/root'` — enumerate the ANN indexes
  * under a root (identified by their carried index properties), one row
  * each with source coupling and staleness. The per-object deep dive
  * (drift probe, parameters) stays `DESCRIBE VECTOR INDEX` — SHOW is
  * the discovery surface an operator inheriting a lake starts from, so
  * it never runs a probe (metadata-only, one log read per table found).
  */
final case class GraftShowVectorIndexesCommand(root: String, maxDepth: Int = 3)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("source_path", StringType, nullable = false)(),
    AttributeReference("metric", StringType, nullable = false)(),
    AttributeReference("indexed_version", LongType, nullable = false)(),
    AttributeReference("source_version", LongType, nullable = true)(),
    AttributeReference("stale", org.apache.spark.sql.types.BooleanType,
      nullable = true)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTableWalk.graftTablesUnder(spark, root, maxDepth)._1.flatMap { p =>
      val props = GraftTable(spark, p).log.tableProperties()
      props.get(graft.ext.AnnIndex.SourcePathKey).map { src =>
        val indexedV = props(graft.ext.AnnIndex.SourceVersionKey).toLong
        // a dangling source still lists (NULL version/stale) — discovery
        // must show the broken coupling, not hide the index
        val srcV = scala.util.Try(GraftTable(spark, src).version()).toOption
        Row(p, src, graft.ext.AnnIndex.params(props).metric, indexedV,
          srcV.map(Long.box).orNull,
          srcV.map(v => Boolean.box(v > indexedV)).orNull)
      }
    }
}

/** `SHOW DEDUP STORES IN '/lake/root'` — the dedup-store counterpart of
  * [[GraftShowVectorIndexesCommand]]: every fingerprint store under the
  * root with its coupling and staleness, metadata-only.
  */
final case class GraftShowDedupStoresCommand(root: String, maxDepth: Int = 3)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("source_path", StringType, nullable = true)(),
    AttributeReference("mirrored_version", LongType, nullable = true)(),
    AttributeReference("source_version", LongType, nullable = true)(),
    AttributeReference("stale", org.apache.spark.sql.types.BooleanType,
      nullable = true)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTableWalk.graftTablesUnder(spark, root, maxDepth)._1.flatMap { p =>
      val props = GraftTable(spark, p).log.tableProperties()
      props.get(graft.ext.DedupIndex.ParamsKey).map { _ =>
        val srcPath = props.get(graft.ext.DedupIndex.SourcePathKey)
        val mirrored =
          props.get(graft.ext.DedupIndex.SourceVersionKey).map(_.toLong)
        val srcV = srcPath.flatMap(sp =>
          scala.util.Try(GraftTable(spark, sp).version()).toOption)
        Row(p, srcPath.orNull, mirrored.map(Long.box).orNull,
          srcV.map(Long.box).orNull,
          (for { m <- mirrored; s <- srcV } yield Boolean.box(s > m)).orNull)
      }
    }
}

/** `SHOW MATERIALIZED VIEWS IN '/lake/root'` — the matview counterpart
  * of [[GraftShowVectorIndexesCommand]]: every incrementally-maintained
  * summary under the root with its definition and staleness,
  * metadata-only. Support relations of `count(DISTINCT)` views carry
  * the same properties but ARE auxiliary — they still list (an
  * operator should see them; their path names the owning view).
  */
final case class GraftShowMatViewsCommand(root: String, maxDepth: Int = 3)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("source_path", StringType, nullable = false)(),
    AttributeReference("group_keys", StringType, nullable = false)(),
    AttributeReference("view_version", LongType, nullable = false)(),
    AttributeReference("source_version", LongType, nullable = true)(),
    AttributeReference("stale", org.apache.spark.sql.types.BooleanType,
      nullable = true)(),
    // NULL for user views; a count(DISTINCT) support relation names
    // its owning view here, so discovery tells the two apart
    AttributeReference("aux_of", StringType, nullable = true)())
  override def run(spark: SparkSession): Seq[Row] =
    GraftTableWalk.graftTablesUnder(spark, root, maxDepth)._1.flatMap { p =>
      val props = GraftTable(spark, p).log.tableProperties()
      props.get(graft.ext.MaterializedAgg.SourceKey).map { src =>
        val viewV =
          props(graft.ext.MaterializedAgg.SourceVersionKey).toLong
        val srcV = scala.util.Try(GraftTable(spark, src).version()).toOption
        Row(p, src,
          props.getOrElse(graft.ext.MaterializedAgg.KeysKey, ""),
          viewV, srcV.map(Long.box).orNull,
          srcV.map(v => Boolean.box(v > viewV)).orNull,
          props.get(graft.ext.MaterializedAgg.AuxOfKey).orNull)
      }
    }
}

/** `ALTER TABLE t DROP FEATURE f` — see [[graft.io.Alter.dropFeature]]. */
final case class GraftDropFeatureCommand(
    target: Either[String, Seq[String]],
    feature: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    Seq(Row(graft.io.Alter.dropFeature(spark, path, feature)))
  }
}

final case class GraftVacuumCommand(
    target: Either[String, Seq[String]],
    retainHours: Option[Long],
    dryRun: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("path", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    val retainMs = retainHours
      .map(_ * 3600L * 1000L)
      .getOrElse(GraftTable.MinRetentionMillis)
    // the safety floor stays on unless explicitly disabled (Delta's
    // retentionDurationCheck.enabled pattern)
    val enforce = spark.conf
      .getOption("spark.graft.vacuum.retentionCheck").forall(_.toBoolean)
    val table = GraftTable(spark, path)
    val removed = table
      .vacuumOlderThan(retainMs, dryRun = dryRun, enforceRetention = enforce)
      .map(Row(_))
    // operational hazard surfacing (shallow clones): a dry run on a table
    // whose LIVE snapshot references files outside its own root — i.e. a
    // shallow clone — warns that those bytes belong to the source table,
    // and that vacuuming the SOURCE (which cannot know its clones) can
    // break this table. Deep-clone (localize) before shortening the
    // source's retention past the clone's pin age.
    val externalLive =
      if (!dryRun) 0
      else table.snapshot().files.count(f =>
        GraftTable.isExternalRef(f.path) ||
          f.dv.exists(d => GraftTable.isExternalRef(d.path)))
    val note =
      if (externalLive == 0) Nil
      else Seq(Row(s"-- note: $externalLive live file reference(s) point " +
        "outside this table root (shallow clone). They are never deleted " +
        "here, but VACUUM on the SOURCE table does not know about this " +
        "clone — deep clone (CREATE TABLE ... CLONE) to localize before " +
        "vacuuming the source."))
    removed ++ note
  }
}

final case class GraftOptimizeCommand(
    target: Either[String, Seq[String]],
    zorderBy: Seq[String],
    /** Partition-scoped compaction (`OPTIMIZE t WHERE day = '...'`). */
    where: Option[String] = None,
    /** `OPTIMIZE t FULL`: force the whole eligible set through the
      * declared-cluster sort instead of the incremental pass (restores
      * a globally disjoint layout after many incremental passes).
      */
    full: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    val pred = where.map(org.apache.spark.sql.functions.expr)
    val v =
      if (zorderBy.isEmpty)
        GraftWriter.optimize(spark, path, where = pred, full = full)
      // partition-scoped Z-order: only matching partitions re-cluster
      else GraftWriter.optimizeZOrder(spark, path, zorderBy, where = pred)
    Seq(Row(v))
  }
}

/** `REORG TABLE t [WHERE pred] APPLY (PURGE)` — rewrite ONLY the files
  * carrying deletion vectors, materializing the anti-filter and
  * dropping the DVs ([[graft.io.GraftWriter.reorgPurge]]). Bounded by
  * the soft-deleted file set (never a compaction); the precursor to
  * `ALTER TABLE ... DROP FEATURE deletionVectors`.
  */
final case class GraftReorgCommand(
    target: Either[String, Seq[String]],
    where: Option[String] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    Seq(Row(GraftWriter.reorgPurge(spark, path,
      where = where.map(org.apache.spark.sql.functions.expr))))
  }
}

final case class GraftDescribeHistoryCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("mode", StringType, nullable = false)(),
    AttributeReference("num_added_files", LongType, nullable = false)(),
    AttributeReference("num_removed_files", LongType, nullable = false)(),
    AttributeReference("num_output_rows", LongType, nullable = false)(),
    AttributeReference("operation_metrics",
      MapType(StringType, LongType, valueContainsNull = false), nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    GraftTable(spark, path).history().map(c => Row(
      c.version, c.timestampMs, c.operation, c.mode,
      c.add.size.toLong, c.remove.size.toLong,
      c.operationMetrics.getOrElse("num_output_rows", -1L), c.operationMetrics))
  }
}

final case class GraftDescribeDetailCommand(
    target: Either[String, Seq[String]]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_records", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    // Delta's DESCRIBE DETAIL surfaces clusteringColumns the same way
    AttributeReference("clustering_columns", StringType, nullable = false)(),
    AttributeReference("schema_ddl", StringType, nullable = false)(),
    AttributeReference("properties", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    val t = GraftTable(spark, path)
    val snap = t.snapshot()
    val props = t.log.tableProperties()
    Seq(Row("graft", path, snap.version, snap.files.size.toLong,
      snap.files.map(_.sizeBytes).sum, snap.files.map(_.liveRecords).sum,
      snap.partitionColumns.mkString(","),
      props.getOrElse(graft.io.GraftWriter.ClusterByKey, ""),
      snap.schema.toDDL,
      props.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(";")))
  }
}

/** `RESTORE [TABLE] t TO VERSION AS OF v | TO TIMESTAMP AS OF 'ts'` —
  * a timestamp resolves to the last version committed at-or-before it
  * (same rule as `timestampAsOf` reads).
  */
final case class GraftRestoreCommand(
    target: Either[String, Seq[String]],
    toVersion: Option[Long],
    toTimestamp: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftMaintenance.resolvePath(spark, target)
    val t = GraftTable(spark, path)
    val v = toVersion.orElse(toTimestamp.map(ts =>
      t.versionAtTimestamp(graft.sources.GraftReadOptions.tsMillis(spark, ts))))
      .getOrElse(throw new IllegalArgumentException(
        "RESTORE needs VERSION AS OF or TIMESTAMP AS OF"))
    Seq(Row(t.restore(v)))
  }
}

/** `CONVERT TO GRAFT parquet.`/path`` [PARTITIONED BY (a, b)]` —
  * in-place, metadata-only adoption of an existing parquet layout
  * ([[GraftWriter.convertParquet]]).
  */
final case class GraftConvertCommand(
    path: String,
    partitionBy: Seq[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(GraftWriter.convertParquet(spark, path, partitionBy)))
}

/** `CREATE TABLE [IF NOT EXISTS] <dst> [SHALLOW|DEEP] CLONE <src>
  * [VERSION AS OF v | TIMESTAMP AS OF 'ts']` — table clone
  * ([[graft.io.Clone]]; bare CLONE = deep, Delta's default). Both
  * targets accept path or catalog form; a catalog-name destination
  * lands in that catalog's warehouse layout, so the new table is
  * immediately visible there.
  */
final case class GraftCloneCommand(
    dst: Either[String, Seq[String]],
    src: Either[String, Seq[String]],
    versionAsOf: Option[Long],
    timestampAsOf: Option[String],
    ifNotExists: Boolean,
    deep: Boolean = false) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcPath = GraftMaintenance.resolvePath(spark, src)
    val dstPath = GraftMaintenance.resolvePath(spark, dst)
    if (ifNotExists && GraftTable.exists(spark, dstPath)) return Seq(Row(0L))
    val v = versionAsOf.orElse(timestampAsOf.map(ts =>
      GraftTable(spark, srcPath).versionAtTimestamp(
        graft.sources.GraftReadOptions.tsMillis(spark, ts))))
    val made =
      if (deep) graft.io.Clone.deep(spark, srcPath, dstPath, v)
      else graft.io.Clone.shallow(spark, srcPath, dstPath, v)
    Seq(Row(made))
  }
}
