package graft.merge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.{Cdc, DataSkipping, GraftTable, GraftWriter, PartitionPredicate}
import graft.log.{AddFile, RemoveFile}

/** Delta-style conditional merge clauses. Clause order is significant:
  * for each row the FIRST clause whose condition holds applies
  * (conditions may reference both aliases, e.g. `s.v > t.v`).
  */
sealed trait MatchedClause { def condition: Option[Column] }
/** matched → replace every target column with the source's. */
final case class UpdateAll(condition: Option[Column] = None) extends MatchedClause
/** matched → set the given columns (expressions over both aliases); the
  * rest keep their target values.
  */
final case class UpdateSet(
    set: Map[String, Column],
    condition: Option[Column] = None) extends MatchedClause
/** matched → drop the target row. */
final case class Delete(condition: Option[Column] = None) extends MatchedClause

sealed trait NotMatchedClause { def condition: Option[Column] }
/** unmatched source → insert all of its columns. */
final case class InsertAll(condition: Option[Column] = None) extends NotMatchedClause
/** unmatched source → insert the given values; unlisted columns null. */
final case class InsertValues(
    values: Map[String, Column],
    condition: Option[Column] = None) extends NotMatchedClause

/** General conditional merge — the `WHEN MATCHED [AND c] THEN UPDATE/
  * DELETE / WHEN NOT MATCHED THEN INSERT / WHEN NOT MATCHED BY SOURCE`
  * surface Delta exposes, and graft's ONE merge engine: the reference's
  * four fixed strategies (dagster_delta/handler.py:70-120,
  * config.py:190-196) are clause presets that [[MergeExecutor.merge]]
  * lowers onto it. Pure-relational row logic: one left join, clause
  * dispatch as ordered `when` chains — fully codegen'd, no UDFs.
  *
  * Physical execution is file-granular copy-on-write, the property that
  * makes merge usable at 100 TB (a 1-row upsert must not be a 100 TB
  * write):
  *
  *   1. candidate files = the snapshot, narrowed to the scope's
  *      partitions when the scope is partition-aligned, then by footer
  *      stats on the merge key (see [[candidateFiles]]);
  *   2. touched files = candidates holding an in-scope row where some
  *      matched clause fires, discovered with a semi-join over
  *      `input_file_name()` — or every file holding an in-scope row
  *      when by-source clauses are present;
  *   3. only touched files are rewritten (rows no clause touches and
  *      out-of-scope rows are carried over); everything else stays
  *      untouched in the commit. An insert-only merge never rewrites at
  *      all — it appends the anti-joined inserts.
  *
  * With `graft.dv=true` step 3 becomes merge-on-read ([[dvMergeOnce]]).
  * The source is persisted for the duration — the discovery and the
  * rewrite (which also emits the change feed's rows) both read it. One
  * aggregate over it (row count plus, for a plain equi-merge, the key's
  * min/max) materializes the persisted source before the first attempt
  * and serves stats pruning, the conflict profile and every retry.
  */
object MergeClausesExecutor {

  /** Merge `source` into the table at `path`.
    *
    * @param matched clauses for target rows with a source match
    * @param notMatched clauses for source rows with no target match
    * @param notMatchedBySource clauses for target rows with no source
    *        match (forces a rewrite of every candidate file, like
    *        replace_delete_unmatched)
    */
  def merge(
      spark: SparkSession,
      source: DataFrame,
      path: String,
      predicate: String,
      matched: Seq[MatchedClause] = Nil,
      notMatched: Seq[NotMatchedClause] = Nil,
      notMatchedBySource: Seq[MatchedClause] = Nil,
      sourceAlias: String = "s",
      targetAlias: String = "t",
      partitionBy: Seq[String] = Nil,
      /** Delta's `MERGE WITH SCHEMA EVOLUTION`: source-only columns are
        * appended to the table schema (nullable) in the same commit;
        * UPDATE SET / INSERT VALUES may then name them.
        */
      schemaEvolution: Boolean = false,
      /** Extra commit metadata riding the merge commit itself — e.g. a
        * carried-forward watermark property that must land ATOMICALLY
        * with the merged rows (see [[graft.ext.MaterializedAgg]]).
        */
      extraMetadata: Map[String, String] = Map.empty): MergeStats =
    run(spark, source, path, partitionBy, Spec(predicate, matched, notMatched,
      notMatchedBySource, sourceAlias, targetAlias, schemaEvolution,
      metadata = Map("operation" -> "MERGE:clauses") ++ extraMetadata))

  /** One merge: its clauses plus the settings only the [[MergeConfig]]
    * lowering sets — a partition `scope` (target rows outside it are
    * untouched), the source type check and Delta's single-match check.
    * `label` names the merge in errors; `metadata` is the full commit
    * metadata.
    */
  private[merge] final case class Spec(
      predicate: String,
      matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedClause],
      bySource: Seq[MatchedClause],
      sa: String,
      ta: String,
      schemaEvolution: Boolean,
      scope: Option[Column] = None,
      typeCheck: Boolean = false,
      singleMatch: Boolean = false,
      label: String = "clauses",
      metadata: Map[String, String] = Map.empty) {
    /** Some clause writes whole source rows (UPDATE ALL / INSERT ALL). */
    def fullRow: Boolean = matched.exists(_.isInstanceOf[UpdateAll]) ||
      notMatched.exists(_.isInstanceOf[InsertAll])
    def scoped(df: DataFrame): DataFrame = scope.map(df.filter).getOrElse(df)
  }

  private[merge] def run(
      spark: SparkSession,
      source: DataFrame,
      path: String,
      partitionBy: Seq[String],
      m: Spec): MergeStats = {
    require(m.matched.nonEmpty || m.notMatched.nonEmpty || m.bySource.nonEmpty,
      "merge requires at least one clause")
    if (!GraftTable.exists(spark, path)) {
      // create the empty target with the source schema
      // (reference: handler.py:241-252)
      GraftWriter.write(spark, source.limit(0), path,
        graft.io.WriteOptions(mode = graft.io.WriteMode.ErrorIfExists,
          partitionBy = partitionBy))
    }
    val table = GraftTable(spark, path)
    val src = source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val agg = aggregateSource(src, m)
      // a concurrent commit invalidates the derived removal set;
      // re-derive against a fresh snapshot and retry (bounded)
      GraftWriter.retryDerived {
        mergeOnce(spark, table, src, agg, path, m)
      }
    } finally src.unpersist()
  }

  /** The merge's one source aggregate, run once per merge before any
    * attempt (it is also the action that materializes the persisted
    * source): the row count and, for a plain equi-merge `s.K = t.C`, the
    * target key `C` with the source key's `[min, max]` — None when no
    * source key is non-NULL. Stats pruning, the conflict profile and
    * every retry read the key range from here instead of re-aggregating
    * the source.
    */
  private final case class SourceAgg(
      rows: Long,
      keyRange: Option[(String, Option[(Any, Any)])])

  private def aggregateSource(src: DataFrame, m: Spec): SourceAgg = {
    val key = equiKey(m.predicate, m.sa, m.ta)
      .filter { case (srcCol, _) => src.columns.exists(_.equalsIgnoreCase(srcCol)) }
    val r = src.agg(count(lit(1)), key.toSeq.flatMap { case (srcCol, _) =>
      Seq(min(col(srcCol)), max(col(srcCol))) }: _*).first()
    SourceAgg(r.getLong(0), key.map { case (_, tgtCol) =>
      (tgtCol, if (r.isNullAt(1)) None else Some((r.get(1), r.get(2))))
    })
  }

  private def mergeOnce(
      spark: SparkSession,
      table: GraftTable,
      src: DataFrame,
      agg: SourceAgg,
      path: String,
      m: Spec): MergeStats = {
    val snap = table.snapshot()
    // one property read per attempt, at the planned snapshot's version:
    // the DV, CDF, row-tracking and generated-column decisions all see
    // the version whose files are being planned
    val props = table.log.tablePropertiesAt(snap.version)
    val sa = m.sa
    val ta = m.ta
    val cond = expr(m.predicate)
    // schema evolution: the commit's schema is the union; target-side
    // DataFrames are padded with the new columns as nulls below
    val mergedSchema =
      if (m.schemaEvolution) GraftWriter.mergeSchemas(snap.schema, src.schema)
      else snap.schema
    def evolve(df: DataFrame): DataFrame =
      graft.io.Schemas.padTo(df, mergedSchema)
    // fail fast on clause typos instead of silently keeping target values
    val colSet = mergedSchema.map(_.name).toSet
    (m.matched ++ m.bySource).foreach {
      case UpdateSet(set, _) =>
        val unknown = set.keys.filterNot(colSet)
        require(unknown.isEmpty,
          s"UPDATE SET names unknown target columns: ${unknown.mkString(", ")}")
      case _ => ()
    }
    // Delta contract: WHEN NOT MATCHED BY SOURCE permits only UPDATE SET /
    // DELETE, and its expressions may not reference the source (every
    // source column is NULL there — UPDATE ALL would null the whole row).
    // A reference is source-side when it is alias-qualified with the
    // source alias (case-insensitively — Spark's resolver is), or an
    // unqualified name of a source-only column (it would silently
    // resolve against the source side of the join; names in neither
    // side are left for the analyzer — they may be literal functions
    // like current_timestamp or lambda variables).
    def ci(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val colSetCi = colSet.map(ci)
    val srcOnlyCi = src.columns.map(ci).toSet -- colSetCi
    def refsSource(c: Column): Boolean =
      org.apache.spark.sql.graft.GraftInternal
        .referencedNameParts(spark, c)
        .exists { np =>
          (np.lengthCompare(1) > 0 && ci(np.head) == ci(sa)) ||
            (np.lengthCompare(1) == 0 && srcOnlyCi(ci(np.head)))
        }
    m.bySource.foreach {
      case _: UpdateAll =>
        throw new IllegalArgumentException(
          "WHEN NOT MATCHED BY SOURCE only supports UPDATE SET and DELETE " +
            "(source columns are all NULL for those rows)")
      case c =>
        val exprs = (c match {
          case UpdateSet(set, cond) => set.values.toSeq ++ cond
          case other                => other.condition.toSeq
        })
        require(!exprs.exists(refsSource),
          "WHEN NOT MATCHED BY SOURCE clauses may only reference target " +
            s"columns ('$sa.*' is NULL for those rows)")
    }
    m.notMatched.foreach {
      case InsertValues(values, _) =>
        val unknown = values.keys.filterNot(colSet)
        require(unknown.isEmpty,
          s"INSERT VALUES names unknown target columns: ${unknown.mkString(", ")}")
      case _ => ()
    }
    val cols = mergedSchema.map(_.name)

    lazy val candidates = candidateFiles(spark, snap, agg, m)
    checkSource(m.scoped(table.dfForFiles(snap, candidates)), mergedSchema, src, m)
    val rowIds = graft.io.RowTracking.enabled(props)
    // a schema-evolution merge must not hijack the id plumbing's names
    // (the commit would refuse them too, but only after planning on them)
    if (rowIds) mergedSchema.fieldNames.foreach(c => require(
      !graft.io.RowTracking.ReservedCols.exists(_.equalsIgnoreCase(c)),
      s"column name $c is reserved by row tracking"))
    val genCols = graft.io.Generated.generatedOf(props).keys.toSeq
    val defaults = graft.io.Generated.defaultsOf(props)

    // merge-on-read (opt-in `graft.dv=true`): affected rows become DV
    // entries instead of whole-file rewrites. Insert-only merges are
    // pure appends on the COW path already — nothing to DV there.
    if (graft.io.DeletionVectors.enabled(props) &&
        (m.matched.nonEmpty || m.bySource.nonEmpty))
      return dvMergeOnce(spark, table, src, agg, path, m, snap, props,
        mergedSchema, candidates)

    // row-level scope (exact even when the filter isn't partition-aligned);
    // the filter sits directly on the scan so pruning/pushdown still fire
    val candDf = evolve(m.scoped(table.dfForFiles(snap, candidates)))
    val fileCol = "__graft_file"
    def collectFiles(d: DataFrame): Seq[AddFile] =
      Cow.touchedFiles(spark, path, candidates, d, fileCol)
    val withFile = candDf.withColumn(fileCol, input_file_name())

    // by-source clauses touch every in-scope row; otherwise only files
    // where a matched clause actually FIRES for some pair (null-safe: a
    // NULL clause condition means the clause does not apply) — a file
    // whose matches all have non-firing conditions is left untouched
    // instead of being rewritten verbatim
    val matchedFires: Column = m.matched
      .map(_.condition.getOrElse(lit(true)))
      .reduceOption(_ || _).getOrElse(lit(false))
    val touched: Seq[AddFile] =
      if (m.bySource.nonEmpty)
        if (m.scope.isEmpty) candidates else collectFiles(withFile)
      else if (m.matched.isEmpty) Nil // insert-only: pure append
      else collectFiles(
        withFile.alias(ta).join(src.alias(sa), cond && matchedFires, "left_semi"))

    // one target row can join several source pairs where NO clause
    // fires (all matched clauses conditional, or by-source clauses on a
    // matched row): the carried target image must be emitted ONCE, not
    // once per pair — rewriteRows dedups via `_metadata` row identity
    val needRowLevel = m.matched.forall(_.condition.isDefined) &&
      (m.matched.nonEmpty || m.bySource.nonEmpty)
    // row tracking: touched rows read WITH their ids (renamed to the
    // physical materialization column) — every row the rewrite emits
    // is a target row (updated or carried), so its id is preserved;
    // inserted rows get NULL = a fresh default from the new file
    val affDf = evolve(table.dfForFilesCarryingIds(snap, touched,
      carryIds = rowIds, withRowMeta = needRowLevel))
    val affScoped = m.scoped(affDf)
    // an unconditional matched clause fires on every matched pair (and
    // by-source clauses touch every in-scope file), so every match lives
    // in a touched file: the insert anti-join then reads only the
    // touched in-scope rows instead of every candidate again
    val insertTarget =
      if (m.bySource.nonEmpty || m.matched.exists(_.condition.isEmpty)) affScoped
      else candDf
    // change-data feed (opt-in `graft.cdf`): the dispatched rows also
    // emit their change rows, tagged (see dispatchOut) — change volume
    // scales with the clauses' hits, never the table. A merge that
    // touches no file commits a pure append, whose inserts the CDF
    // reader takes from the add actions.
    val cdf = touched.nonEmpty && Cdc.enabled(props)
    val merged = rowCore(affScoped, insertTarget, src, cond, mergedSchema, m,
      rowLevel = needRowLevel, genCols = genCols, defaults = defaults, cdf = cdf)
    // out-of-scope rows of touched files are carried over. Null-safe
    // complement: rows where the scope evaluates to NULL are out of
    // scope (`!p` would be NULL for them and filter both ways)
    val carried = m.scope.map(p => affDf.filter(!coalesce(p, lit(false)))
      .select((cols ++ (if (rowIds) RidCols else Nil)).map(col) ++
        genCols.map(g => lit(true).as(genFlagName(g))) ++ dataTag(cdf): _*))
    // generated columns are recomputed ROW-LEVEL: each row's
    // dispatched clause decides (a clause that explicitly assigns the
    // column keeps its value, checked as it is written; any other
    // clause recomputes — Delta parity even when DIFFERENT clauses
    // assign different columns)
    val newData = dropGenFlags(graft.io.Generated.recomputeGated(
      carried.fold(merged)(merged.unionByName), mergedSchema, props, genFlagCol),
      genCols)

    val v = GraftWriter.writeCow(spark, newData, path, snap,
      touched.map(f => RemoveFile(f.path)),
      operation = "MERGE",
      metadata = m.metadata,
      schemaOverride = if (m.schemaEvolution) Some(mergedSchema) else None,
      profile = Some(conflictProfile(spark, snap, agg, m, candidates, touched)),
      // validation set = every generated column SOME clause assigns
      // (rows dispatched elsewhere were recomputed and pass trivially)
      assignedCols = Some(explicitGenerated(props, m)))
    val numOut = table.snapshot().files.map(_.liveRecords).sum
    MergeStats(v, agg.rows, numOut)
  }

  private val RidCols =
    Seq(graft.io.RowTracking.PhysicalCol, graft.io.RowTracking.PhysicalVersionCol)

  /** Candidate files: prune whole partitions on the driver when the
    * scope references partition columns alone ([[PartitionPredicate]];
    * other scopes keep all files, scoped per-row by the caller), then
    * skip files whose footer min/max proves they cannot hold a source
    * key: a pruned file provably contains no match, so no matched clause
    * fires in it and it cannot suppress an insert. By-source clauses
    * touch unmatched rows, so no stats pruning with them. This keeps the
    * discovery scan O(overlapping files) on a 100 TB table with a narrow
    * CDC batch.
    */
  private def candidateFiles(
      spark: SparkSession,
      snap: graft.log.Snapshot,
      agg: SourceAgg,
      m: Spec): Seq[AddFile] = {
    val partitionPruned: Seq[AddFile] = m.scope match {
      case Some(p) if snap.partitionColumns.nonEmpty =>
        PartitionPredicate.resolve(spark, snap, p)
          .fold(snap.files)(PartitionPredicate.select(spark, snap, _))
      case _ => snap.files
    }
    if (m.bySource.nonEmpty) partitionPruned
    else keyRangeMatcher(spark, snap, agg).fold(partitionPruned)(partitionPruned.filter)
  }

  /** For a plain equi-merge `s.K = t.C`: whether a file may hold one of
    * the source's keys, `lo <= C <= hi`, asked of the file pruner — a
    * partition key is tested on the file's partition value, any other
    * key on its footer [min,max] (always false when the source has no
    * non-null key — nothing joins). The bounds are built as literals, so
    * no analysis pass runs. None for any richer predicate.
    */
  private def keyRangeMatcher(
      spark: SparkSession,
      snap: graft.log.Snapshot,
      agg: SourceAgg): Option[AddFile => Boolean] =
    agg.keyRange.map {
      case (_, None) => (_: AddFile) => false
      case (tgtCol, Some((lo, hi))) =>
        val zone = spark.sessionState.conf.sessionLocalTimeZone
        val bounds = for {
          f <- snap.schema.find(_.name.equalsIgnoreCase(tgtCol))
          (l, h) <- scala.util.Try((Literal(lo), Literal(hi))).toOption
        } yield {
          // a bound takes the key's type when the source's casts up to
          // it; otherwise it stays as it came: footer stats compare it
          // across numeric types, and an ill-typed partition bound is
          // not evaluated, so it prunes nothing
          def typed(l: Literal): Literal =
            if (!Cast.canUpCast(l.dataType, f.dataType)) l
            else Literal(Cast(l, f.dataType, Some(zone)).eval(), f.dataType)
          val key = AttributeReference(f.name, f.dataType)()
          Seq(GreaterThanOrEqual(key, typed(l)), LessThanOrEqual(key, typed(h)))
        }
        bounds.fold[AddFile => Boolean](_ => true)(
          DataSkipping.fileMatcher(snap, zone, _))
    }

  /** `(sourceKey, targetKey)` of a plain equi-merge predicate
    * `s.K = t.C` / `t.C = s.K`; None for anything richer. Aliases and,
    * in the callers, column names match case-insensitively, as Spark
    * resolves them.
    */
  private def equiKey(
      predicate: String, sa: String, ta: String): Option[(String, String)] = {
    val re = """(?i)\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*""".r
    predicate match {
      case re(a1, c1, a2, c2) =>
        if (a1.equalsIgnoreCase(sa) && a2.equalsIgnoreCase(ta)) Some((c1, c2))
        else if (a1.equalsIgnoreCase(ta) && a2.equalsIgnoreCase(sa)) Some((c2, c1))
        else None
      case _ => None
    }
  }

  /** Conflict profile of a merge ([[graft.log.CommitLog.commitOrRebase]]):
    * the read set is the touched files for a matched-only merge, but
    * every candidate once an insert anti-join or a by-source clause
    * read them all. A concurrent append conflicts when it lands inside
    * the merge's scope AND its stats cannot rule out the source's key
    * range; a merge with by-source clauses touches UNMATCHED in-scope
    * rows, so ANY in-scope append conflicts with it.
    */
  private def conflictProfile(
      spark: SparkSession,
      snap: graft.log.Snapshot,
      agg: SourceAgg,
      m: Spec,
      candidates: Seq[AddFile],
      touched: Seq[AddFile]): graft.log.TxnProfile = {
    val readPaths =
      (if (m.notMatched.nonEmpty || m.bySource.nonEmpty) candidates
       else touched).map(_.path).toSet
    // lazy: the partition matcher costs an analysis pass — only pay on a
    // lost CAS, never on the common uncontended commit
    lazy val partMatcher: AddFile => Boolean = m.scope match {
      case Some(p) => DataSkipping.matcherFor(spark, snap, p)
      case None    => _ => true
    }
    lazy val keyMatcher: AddFile => Boolean =
      if (m.bySource.nonEmpty) _ => true
      else keyRangeMatcher(spark, snap, agg).getOrElse(_ => true)
    graft.log.TxnProfile(readPaths, touched.map(_.path).toSet,
      a => partMatcher(a) && keyMatcher(a))
  }

  /** The source contract, checked before anything is written: a merge
    * with a full-row clause (UPDATE ALL / INSERT ALL) needs every column
    * of `schema` (the schema the merge commits — the evolved one under
    * schema evolution) in the source; with `typeCheck` overlapping
    * columns must type-match; with `singleMatch` (Delta's
    * failOnMultipleMatches) no row of `target` may match more than one
    * source row.
    */
  private[merge] def checkSource(
      target: => DataFrame,
      schema: StructType,
      source: DataFrame,
      m: Spec): Unit = {
    if (m.fullRow) {
      val missing = schema.map(_.name).filterNot(source.columns.contains)
      require(missing.isEmpty,
        s"merge ${m.label}: source is missing target columns " +
          s"${missing.mkString(", ")} (UPDATE ALL / INSERT ALL write full " +
          "rows; add the columns or use UPDATE SET / INSERT VALUES)")
    }
    if (m.typeCheck) {
      val tTypes = schema.map(f => f.name -> f.dataType).toMap
      source.schema.foreach { f =>
        tTypes.get(f.name).foreach { tt =>
          require(tt == f.dataType,
            s"merge type mismatch on '${f.name}': target $tt vs source ${f.dataType}")
        }
      }
    }
    if (m.singleMatch && m.matched.nonEmpty) {
      val tid = "__graft_tid"
      val multi = target.withColumn(tid, monotonically_increasing_id())
        .alias(m.ta).join(source.alias(m.sa), expr(m.predicate), "inner")
        .groupBy(col(tid))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .limit(1)
        .count()
      require(multi == 0,
        s"merge ${m.label}: a target row matches multiple " +
          "source rows (Delta semantics); deduplicate the source on the " +
          "merge key or unset failOnMultipleMatches")
    }
  }

  /** Merge-on-read merge (opt-in `graft.dv=true`): joined rows
    * where any clause fires mark their target row's physical index into
    * a per-file deletion vector; non-Delete dispatch outputs and the
    * not-matched inserts append as new files. Unaffected rows stay in
    * place (not DV'd) instead of being carried over into rewritten
    * files — so a merge touching one row per file costs
    * O(affected rows) of compressed bitmap plus the appended rows,
    * never a rewrite of every touched file. Row semantics are identical
    * to the COW path (oracle-checked: `merge_upsert_dv`,
    * `merge_clauses_dv`). Out-of-scope rows are never dispatched, so
    * they stay in place.
    *
    * Multi-match subtlety: with CONDITIONAL matched clauses, one target
    * row can join several source rows where only some pairs fire. COW
    * emits every pair through the dispatch (the fired pair's update plus
    * the unfired pair's carried target image). To reproduce that, the
    * affected flag is lifted from pair level to target-ROW level (a
    * max() window over the `_metadata` row identity) and ALL pairs of an
    * affected row are appended through the dispatch; the window is
    * skipped when no matched clause has a condition (then pair-affected
    * ⇔ row-affected).
    */
  private def dvMergeOnce(
      spark: SparkSession,
      table: GraftTable,
      src: DataFrame,
      agg: SourceAgg,
      path: String,
      m: Spec,
      snap: graft.log.Snapshot,
      props: Map[String, String],
      mergedSchema: StructType,
      candidates: Seq[AddFile]): MergeStats = {
    import graft.io.DeletionVectors
    val sa = m.sa
    val ta = m.ta
    val cond = expr(m.predicate)
    val cols = mergedSchema.map(_.name)
    def evolve(df: DataFrame): DataFrame =
      graft.io.Schemas.padTo(df, mergedSchema)

    // row tracking: affected target rows leave via DV and re-enter as
    // rewrites — carry each row's id into its replacement (same
    // preservation contract as the COW path; rewriteRows picks the
    // column up from the target frame by name)
    val rowIds = graft.io.RowTracking.enabled(props)
    val candDfM = evolve(m.scoped(table.dfForFilesCarryingIds(snap, candidates,
      carryIds = rowIds, withRowMeta = true)))
    val fileC = col(graft.sources.GraftNativeRelation.RowMetaFileCol)
    val idxC = col(graft.sources.GraftNativeRelation.RowMetaIndexCol)

    val d = Dispatch(candDfM, src, cond, m.matched, m.bySource, sa, ta)
    // pair-affected can differ from row-affected only when every matched
    // clause is conditional (an unconditional clause fires every matched
    // pair, and by-source rows have exactly one pair)
    val affRow: Column =
      if (m.matched.nonEmpty && m.matched.forall(_.condition.isDefined))
        max(d.affected.cast("int"))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(fileC, idxC)) === 1
      else d.affected
    val tagged = d.joined.withColumn("__graft_affected", affRow)
    // the dominant plan of the merge (candidate⋈source join plus the
    // (file,idx) window shuffle) feeds BOTH the bitmap collect and the
    // appended rewrites — persist so it executes once, not twice
    val affected = tagged.filter(col("__graft_affected"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {

    val (updated, numDeleted) = DeletionVectors.bitmapUpdates(
      spark, path, snap, affected.select(fileC, idxC))
    val touched = updated.map(_._1)

    // non-Delete dispatch outputs append (unaffected sibling pairs of an
    // affected row re-emit the target image through the fold's default)
    val genCols = graft.io.Generated.generatedOf(props).keys.toSeq
    val defaults = graft.io.Generated.defaultsOf(props)
    // CDF: identical change semantics to the COW path, emitted from
    // the same persisted affected rows
    val cdf = touched.nonEmpty && Cdc.enabled(props)
    val rewrites = dispatchOut(d, affected, cols, genCols, cdf)
    // anti join must see ALL in-scope candidate rows, not just touched files
    val inserts0 = tagInserts(insertRows(candDfM, src, cond, mergedSchema, m.notMatched,
      sa, ta, genCols = genCols, defaults = defaults), cdf)
    val inserts =
      if (rowIds) RidCols.foldLeft(inserts0)(_.withColumn(_, lit(null).cast("long")))
      else inserts0
    val newData = dropGenFlags(graft.io.Generated.recomputeGated(
      rewrites.unionByName(inserts), mergedSchema, props, genFlagCol),
      genCols)

    val v = GraftWriter.writeCow(spark, newData, path, snap,
      touched.map(f => RemoveFile(f.path)),
      operation = "MERGE",
      metadata = m.metadata,
      schemaOverride = if (m.schemaEvolution) Some(mergedSchema) else None,
      extraAdds = updated.flatMap(_._2),
      profile = Some(conflictProfile(spark, snap, agg, m, candidates, touched)),
      assignedCols = Some(explicitGenerated(props, m)),
      mode = "dv",
      extraMetrics = DeletionVectors.commitMetrics(updated, numDeleted))
    val numOut = table.snapshot().files.map(_.liveRecords).sum
    MergeStats(v, agg.rows, numOut)
    } finally affected.unpersist()
  }

  /** The ordered clause-dispatch algebra shared by the COW rewrite and
    * the merge-on-read (DV) path, and the source of both paths' CDF
    * change rows: one left join of target and source, then per joined
    * row the FIRST clause whose guard holds decides the output.
    * Centralizing it guarantees every consumer sees bit-identical row
    * semantics.
    */
  private final case class Dispatch(
      target: DataFrame,
      source: DataFrame,
      cond: Column,
      matched: Seq[MatchedClause],
      bySource: Seq[MatchedClause],
      sa: String,
      ta: String) {
    private val marker = "__graft_matched"
    val joined: DataFrame = target.alias(ta)
      .join(source.withColumn(marker, lit(true)).alias(sa), cond, "left")
    private val isMatched = coalesce(col(s"$sa.$marker"), lit(false))

    private def clauseGuard(c: MatchedClause, matchedSide: Boolean): Column = {
      val side = if (matchedSide) isMatched else !isMatched
      c.condition.map(side && _).getOrElse(side)
    }
    /** All (guard, clause) pairs in dispatch order. */
    val pairs: Seq[(Column, MatchedClause)] =
      matched.map(c => (clauseGuard(c, matchedSide = true), c)) ++
        bySource.map(c => (clauseGuard(c, matchedSide = false), c))

    private def colValue(c: MatchedClause, name: String): Column = c match {
      case _: UpdateAll      => col(s"$sa.$name")
      case UpdateSet(set, _) => set.getOrElse(name, col(s"$ta.$name"))
      case _: Delete         => col(s"$ta.$name") // filtered by keep
    }
    def outValue(name: String): Column =
      pairs.foldRight(col(s"$ta.$name")) { case ((g, c), rest) =>
        when(g, colValue(c, name)).otherwise(rest)
      }
    def outCol(name: String): Column = outValue(name).as(name)
    /** False iff the dispatched clause is a Delete. */
    def keep: Column =
      pairs.foldRight(lit(true)) { case ((g, c), rest) =>
        when(g, lit(!c.isInstanceOf[Delete])).otherwise(rest)
      }
    /** "update" / "delete" of the dispatched clause; null if none fires. */
    def kind: Column =
      pairs.foldRight(lit(null).cast("string")) { case ((g, c), rest) =>
        when(g, lit(if (c.isInstanceOf[Delete]) "delete" else "update"))
          .otherwise(rest)
      }
    /** Does ANY clause fire for this joined row? (null-safe: a NULL
      * guard condition means the clause does not apply.)
      */
    def affected: Column =
      pairs.map { case (g, _) => coalesce(g, lit(false)) }
        .foldLeft(lit(false))(_ || _)
  }

  /** Flag-column name carrying "the dispatched clause explicitly
    * assigned generated column g" per row.
    */
  private def genFlagName(g: String): String =
    s"__graft_gen_${g.toLowerCase(java.util.Locale.ROOT)}"

  private def genFlagCol(g: String): Column = col(genFlagName(g))

  private def dropGenFlags(df: DataFrame, genCols: Seq[String]): DataFrame =
    genCols.foldLeft(df)((d, g) => d.drop(genFlagName(g)))

  /** Per-row "did the dispatched MATCHED/BY-SOURCE clause explicitly
    * assign `g`": UPDATE ALL supplies every column; UPDATE SET only its
    * names; Delete rows are filtered before this matters; carried rows
    * (no clause fires) keep target values that satisfy the invariant —
    * true skips the redundant recompute for them.
    */
  private def matchedAssignFlag(d: Dispatch, g: String): Column =
    d.pairs.foldRight(lit(true)) { case ((guard, c), rest) =>
      val assigns = c match {
        case _: UpdateAll      => true
        case UpdateSet(set, _) => set.keys.exists(_.equalsIgnoreCase(g))
        case _: Delete         => true
      }
      when(guard, lit(assigns)).otherwise(rest)
    }

  /** Target-side rewrite: ordered clause dispatch per row.
    *
    * With `rowLevel` (set when every matched clause is conditional, so a
    * matched pair can leave its row unaffected), `target` carries
    * `_metadata` row identity and rows where NO pair fires keep exactly
    * one joined pair — without it a multi-matched row whose pairs all
    * miss their clause conditions would be emitted once per pair
    * (silent duplication vs the merge-on-read path and Delta).
    * Affected rows still emit every pair through the dispatch (the
    * documented emit-one-row-per-match contract, shared with the DV
    * path's `affRow` lift).
    */
  private def rewriteRows(
      target: DataFrame,
      source: DataFrame,
      cond: Column,
      cols: Seq[String],
      matched: Seq[MatchedClause],
      bySource: Seq[MatchedClause],
      sa: String,
      ta: String,
      rowLevel: Boolean = false,
      genCols: Seq[String] = Nil,
      cdf: Boolean = false): DataFrame = {
    if (matched.isEmpty && bySource.isEmpty)
      // no clause touches a target row: they pass through as they are
      // (the dispatch join would repeat a multi-matched row)
      return target.select(cols.map(col) ++
        RidCols.filter(target.columns.contains).map(col) ++
        genCols.map(g => lit(true).as(genFlagName(g))) ++ dataTag(cdf): _*)
    val d = Dispatch(target, source, cond, matched, bySource, sa, ta)
    val pruned =
      if (!rowLevel) d.joined
      else {
        val fileC = col(graft.sources.GraftNativeRelation.RowMetaFileCol)
        val idxC = col(graft.sources.GraftNativeRelation.RowMetaIndexCol)
        // idxC is constant within the partition — a legal, cheap order key
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(fileC, idxC)
        d.joined
          .withColumn("__graft_aff_row",
            max(d.affected.cast("int")).over(w) === 1)
          .withColumn("__graft_rn",
            row_number().over(w.orderBy(idxC)))
          .filter(col("__graft_aff_row") || col("__graft_rn") === 1)
      }
    dispatchOut(d, pruned, cols, genCols, cdf)
  }

  /** The dispatched output of joined pairs `rows` (of `d.joined`): per
    * kept pair the dispatched clause's values, the row-id plumbing when
    * the target carries it, and the per-row generated-column flags.
    * With `cdf` the pairs also emit their change rows, tagged
    * ([[Cdc.tag]]): an update keeps its data row and adds its preimage
    * and postimage, a delete becomes its delete row. Preimages keep the
    * target's values and skip the generated-column recompute.
    */
  private def dispatchOut(
      d: Dispatch,
      rows: DataFrame,
      cols: Seq[String],
      genCols: Seq[String],
      cdf: Boolean): DataFrame = {
    // row tracking: every emitted row is a target row — carry its id;
    // the row VERSION carries only when no UPDATE clause fired (an
    // updated row materializes NULL and falls through to the rewrite
    // commit's version)
    val ridCol = graft.io.RowTracking.PhysicalCol
    val rverCol = graft.io.RowTracking.PhysicalVersionCol
    val ridKeep: Seq[Column] =
      if (d.target.columns.contains(ridCol))
        Seq(col(s"${d.ta}.$ridCol").as(ridCol),
          when(d.kind === "update", lit(null).cast("long"))
            .otherwise(col(s"${d.ta}.$rverCol")).as(rverCol))
      else Nil
    if (!cdf)
      return rows
        .withColumn("__graft_keep", d.keep)
        .filter(col("__graft_keep"))
        .select(cols.map(d.outCol) ++ ridKeep ++
          genCols.map(g => matchedAssignFlag(d, g).as(genFlagName(g))): _*)
    Cdc.tag(rows,
      when(d.kind === "update", Cdc.kinds(None, Some(Cdc.Preimage), Some(Cdc.Postimage)))
        .when(d.kind === "delete", Cdc.kinds(Some(Cdc.Delete)))
        .otherwise(Cdc.kinds(None)))
      .select(cols.map(c =>
        when(Cdc.isPreimage, col(s"${d.ta}.$c")).otherwise(d.outValue(c)).as(c)) ++
        ridKeep ++
        genCols.map(g => (matchedAssignFlag(d, g) || Cdc.isPreimage).as(genFlagName(g))) :+
        col(Cdc.ChangeCol): _*)
  }

  /** The change-type column of untouched data rows in a tagged frame. */
  private def dataTag(cdf: Boolean): Seq[Column] =
    if (cdf) Seq(lit(null).cast("string").as(Cdc.ChangeCol)) else Nil

  /** Insert rows, with `cdf` each also emitted as its `insert` change row. */
  private def tagInserts(inserts: DataFrame, cdf: Boolean): DataFrame =
    if (cdf) Cdc.tag(inserts, Cdc.kinds(None, Some(Cdc.Insert))) else inserts

  /** Generated columns at least one clause EXPLICITLY assigns (UPDATE
    * SET / INSERT VALUES naming them, or any full-row UPDATE ALL /
    * INSERT ALL clause — the source supplies every column there). The
    * POST-WRITE VALIDATION set: recompute itself is decided per row by
    * the dispatched clause ([[matchedAssignFlag]]), so rows dispatched
    * to a non-assigning clause were recomputed and pass trivially.
    */
  private def explicitGenerated(
      props: Map[String, String],
      m: Spec): Set[String] = {
    val gens = graft.io.Generated.generatedOf(props).keySet
    if (gens.isEmpty) return Set.empty
    if (m.fullRow) gens
    else {
      val named =
        (m.matched ++ m.bySource).collect { case UpdateSet(s, _) => s.keys }
          .flatten.toSet ++
          m.notMatched.collect { case InsertValues(v, _) => v.keys }.flatten
      gens.filter(g => named.exists(_.equalsIgnoreCase(g)))
    }
  }

  /** The clause row core: the dispatch rewrite of `target` ∪ the insert
    * rows (source rows with no match in `insertTarget` — the same rows as
    * `target` unless the caller knows a smaller frame holds every match).
    * The COW path runs it on the touched in-scope rows;
    * [[MergeExecutor.apply]] is this function over the strategy presets.
    * Inserts get NULL row-id plumbing (fresh ids at write time) when the
    * target carries it.
    */
  private[merge] def rowCore(
      target: DataFrame,
      insertTarget: DataFrame,
      source: DataFrame,
      cond: Column,
      schema: StructType,
      m: Spec,
      rowLevel: Boolean = false,
      genCols: Seq[String] = Nil,
      defaults: Map[String, String] = Map.empty,
      /** Also emit the change rows, tagged (see [[dispatchOut]]). */
      cdf: Boolean = false): DataFrame = {
    val inserts = tagInserts(insertRows(insertTarget, source, cond, schema, m.notMatched,
      m.sa, m.ta, genCols = genCols, defaults = defaults), cdf)
    rewriteRows(target, source, cond, schema.map(_.name), m.matched, m.bySource,
      m.sa, m.ta, rowLevel = rowLevel, genCols = genCols, cdf = cdf)
      .unionByName(RidCols.filter(target.columns.contains)
        .foldLeft(inserts)(_.withColumn(_, lit(null).cast("long"))))
  }

  /** Insert side: first applicable not-matched clause per unmatched
    * source row; rows with no applicable clause are dropped.
    */
  private def insertRows(
      target: DataFrame,
      source: DataFrame,
      cond: Column,
      schema: StructType,
      notMatched: Seq[NotMatchedClause],
      sa: String,
      ta: String,
      genCols: Seq[String] = Nil,
      /** Declared column defaults (`graft.default.*`): an INSERT VALUES
        * clause that omits such a column gets the default instead of
        * null (Delta's DEFAULT-on-insert semantics).
        */
      defaults: Map[String, String] = Map.empty): DataFrame = {
    // defaults resolve here against the source⋈target join frame — the
    // column-free invariant keeps that identical to the write path's fill
    graft.io.Generated.validateDefaults(source.sparkSession, defaults)
    val cols = schema.map(_.name)
    val unmatched = source.alias(sa).join(target.alias(ta), cond, "left_anti")
    def guard(c: NotMatchedClause): Column = c.condition.getOrElse(lit(true))
    // per-row "did the dispatched insert clause explicitly supply g":
    // INSERT ALL supplies every column; INSERT VALUES only its names —
    // unlisted generated columns are recomputed instead of left null
    def assignFlag(g: String): Column =
      notMatched.foldRight(lit(true)) { case (c, rest) =>
        val assigns = c match {
          case _: InsertAll            => true
          case InsertValues(values, _) => values.keys.exists(_.equalsIgnoreCase(g))
        }
        when(guard(c), lit(assigns)).otherwise(rest)
      }
    val flagCols = genCols.map(g => assignFlag(g).as(genFlagName(g)))
    if (notMatched.isEmpty)
      return unmatched.limit(0).select(cols.map(n =>
        lit(null).cast(schema(n).dataType).as(n)) ++
        genCols.map(g => lit(true).as(genFlagName(g))): _*)
    val applicable = notMatched.foldRight(lit(false)) { case (c, rest) =>
      when(guard(c), lit(true)).otherwise(rest)
    }
    def colValue(c: NotMatchedClause, name: String): Column = c match {
      case _: InsertAll => col(name)
      case InsertValues(values, _) =>
        values.getOrElse(name,
          defaults.collectFirst {
            case (dc, sql) if dc.equalsIgnoreCase(name) => expr(sql)
          }.getOrElse(lit(null))).cast(schema(name).dataType)
    }
    def outCol(name: String): Column =
      notMatched.foldRight(lit(null).cast(schema(name).dataType): Column) {
        case (c, rest) => when(guard(c), colValue(c, name)).otherwise(rest)
      }.as(name)
    unmatched
      .filter(applicable)
      .select(cols.map(outCol) ++ flagCols: _*)
  }
}
