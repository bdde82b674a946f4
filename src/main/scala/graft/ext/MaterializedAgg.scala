package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{GraftTable, GraftWriter, WriteMode, WriteOptions}
import graft.merge.{Delete, InsertValues, MergeClausesExecutor, UpdateSet}

/** Materialized-view-style incremental aggregate maintenance over the
  * change feed — the composition users actually build from CDF + MERGE:
  * a summary table `GROUP BY keys → (sum, count)` kept in sync with its
  * source by applying per-key DELTAS from the source's change feed,
  * never rescanning the source.
  *
  * Views of sums and counts alone read the source's signed churn scan
  * ([[GraftTable.signedChanges]]): those aggregates are linear in the
  * row multiset, so the rows a rewrite carries over cancel inside the
  * per-key sums and no EXCEPT ALL nets the churned rows first. Views
  * with min/max read the exact feed (`tableChanges`).
  *
  * Exactly-once: the last-applied source version rides the SAME merge
  * commit as the deltas (a carried-forward table property on the
  * summary), so a crashed refresh retries from the recorded version and
  * can neither skip nor double-apply a change range. Work per refresh
  * scales with the CHANGED rows (one groupBy over the change rows + a
  * key-equi merge into the summary), not the source size — the property
  * that makes a 100 TB source's minute-level summary refresh cheap.
  *
  * The summed column must be integral (LongType) — the repo's
  * fixed-point idiom: incremental `+delta` maintenance of a float sum
  * would drift from a recompute by float association, an integer sum
  * cannot.
  */
object MaterializedAgg {

  /** Carried-forward summary-table property: last source version whose
    * changes are reflected in the summary.
    */
  val SourceVersionKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.sourceVersion"

  /** Carried-forward view DEFINITION properties (source path, grouping
    * keys, summed column) — what lets `REFRESH MATERIALIZED VIEW t`
    * re-derive the maintenance spec from the summary table alone.
    */
  val SourceKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.source"
  val KeysKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.keys"
  val ValueKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.value"

  /** Requested aggregate forms of the view's SELECT list (`fn:col:alias`
    * entries) — what lets [[readView]] serve `avg(col)` / `count(*)` /
    * `count(col)` DERIVED from the maintained sums and counts. Only the
    * sums/counts are maintained incrementally; the derived forms are
    * read-time projections (no new maintenance math, so they are exact
    * by construction).
    */
  val SelectKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.select"

  /** Columns whose `min_<col>`/`max_<col>` extrema the summary
    * maintains. Inserts fold incrementally (`least`/`greatest` against
    * the stored extremum); a delete/preimage that touches a group's
    * CURRENT extremum triggers a bounded recompute of exactly the
    * affected groups from the source — the one aggregate family where a
    * removed value cannot be replaced from the summary alone.
    */
  val MinMaxKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.minmax"

  /** Columns maintained as exact `count(DISTINCT col)` — via a SUPPORT
    * relation per column (the classic incremental-view-maintenance
    * answer): an auxiliary count(*) matview grouped by (keys..., col)
    * at [[distinctAuxPath]], maintained by the same per-key delta math
    * (a value's row count nets to zero → its support row disappears).
    * The distinct count is then DERIVED at read time as the per-key
    * count of non-NULL support rows — exact under inserts, updates,
    * AND deletes, with refresh work O(changed rows) and read work one
    * narrow aux scan (the aux is the deduplicated value set, never the
    * source).
    */
  val DistinctKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.distinct"

  /** Stamped on every `count(DISTINCT)` SUPPORT relation at creation:
    * the summary path that owns it. Support relations carry the full
    * matview property set (they ARE matviews of the source), so without
    * this marker `DROP MATERIALIZED VIEW` could not tell an aux from a
    * user view and would delete one out from under its owner.
    */
  val AuxOfKey: String =
    graft.log.CommitLog.ReservedPrefix + "matview.auxOf"

  /** Delta-row count above which the extremum-recompute flag set is no
    * longer broadcast-hinted (narrow key rows at 1M ≈ tens of MB —
    * comfortably under executor broadcast budgets; beyond it the flag
    * set may be every changed group of a boundary-deleting batch).
    */
  private[graft] val BroadcastFlagMaxKeys = 1000000L

  /** The support-relation table of `count(DISTINCT col)` for a summary:
    * a sibling directory (never nested inside the summary — a table
    * inside another table's root would read as orphan files to vacuum).
    */
  def distinctAuxPath(summaryPath: String, col: String): String =
    summaryPath.stripSuffix("/") + s"__distinct_$col"

  /** Build or incrementally refresh `summaryPath` =
    * `source GROUP BY keyCols AGG sum(valueCol) AS sum_val, count(*) AS
    * n_rows`. Returns the newly applied source version, or None when the
    * summary was already current.
    */
  def refresh(
      spark: SparkSession,
      sourcePath: String,
      summaryPath: String,
      keyCols: Seq[String],
      valueCol: String): Option[Long] =
    refreshSums(spark, sourcePath, summaryPath, keyCols, Seq(valueCol))

  /** Per-column summary naming: the single-column form keeps the
    * historical `sum_val`/`n_vals` names; N columns name theirs
    * `sum_<col>`/`nvals_<col>` (plus the shared `n_rows`).
    */
  private[graft] def specsOf(valueCols: Seq[String]): Seq[(String, String, String)] =
    valueCols match {
      case Seq(only) => Seq((only, "sum_val", "n_vals"))
      case many      => many.map(c => (c, s"sum_$c", s"nvals_$c"))
    }

  /** [[refresh]] generalized to MULTIPLE summed columns — the
    * `SELECT k, sum(a), sum(b) ... GROUP BY k` materialized view. The
    * incremental math is per-column independent, so one change-feed
    * scan and ONE merge commit maintain every sum together. A view
    * without `minMaxCols` (sum, count, and the count-distinct support
    * relations, which are count(*) views) reads the signed churn scan
    * [[GraftTable.signedChanges]]; a view with min/max reads the exact
    * `tableChanges` feed, since a carried-over row read as a removal
    * would send its group to the extremum recompute.
    */
  def refreshSums(
      spark: SparkSession,
      sourcePath: String,
      summaryPath: String,
      keyCols: Seq[String],
      /** May be EMPTY for a pure `count(*)` view — the summary then
        * carries only the grouping keys and `n_rows`.
        */
      valueCols: Seq[String],
      /** Extra creating-commit properties (e.g. [[SelectKey]]). Ignored
        * on refreshes of an existing summary.
        */
      createProps: Map[String, String] = Map.empty,
      /** Columns maintained as `min_<col>`/`max_<col>`. Inserts fold
        * incrementally; a delete/preimage touching a group's current
        * extremum recomputes ONLY that group from the source — one
        * narrow source pass semi-joined to the (changed-key-bounded)
        * affected group set, never a view-sized rescan.
        */
      minMaxCols: Seq[String] = Nil,
      /** Columns maintained as exact `count(DISTINCT col)` — each gets
        * a support-relation aux matview at [[distinctAuxPath]] (a
        * count(*) view grouped by keys + the column), refreshed here
        * alongside the summary. [[readView]] derives the distinct count
        * from the aux; a crash between the summary's and an aux's merge
        * leaves their watermarks split, which readView refuses loudly —
        * re-running REFRESH converges both (each merge is idempotent
        * against its own watermark).
        */
      distinctCols: Seq[String] = Nil,
      /** Refresh up to THIS source version instead of the latest — the
        * support-relation recursion pins the auxes to the exact version
        * the summary just applied (a continuously-committing source
        * would otherwise land a newer version in every aux and split
        * the watermarks on every refresh, making the view unreadable
        * until the writer pauses).
        */
      asOfVersion: Option[Long] = None): Option[Long] = {
    require(keyCols.nonEmpty, "at least one grouping key")
    require(valueCols.distinct == valueCols,
      s"duplicate summed columns: ${valueCols.mkString(",")}")
    require(minMaxCols.distinct == minMaxCols,
      s"duplicate min/max columns: ${minMaxCols.mkString(",")}")
    require(distinctCols.distinct == distinctCols,
      s"duplicate count-distinct columns: ${distinctCols.mkString(",")}")
    distinctCols.foreach(c => require(!keyCols.contains(c),
      s"count(DISTINCT $c) over a grouping key is constant 1 — drop it"))
    val specs = specsOf(valueCols)
    val src = GraftTable(spark, sourcePath)
    val curV = asOfVersion.getOrElse(src.version())

    // the support relations refresh on EVERY path — including the
    // already-current early return, so a crash that left an aux behind
    // the summary converges on the next refresh. They pin to the SAME
    // source version this call applied (or, when already current, the
    // summary's own watermark) — never a fresh src.version() read
    def refreshAuxes(toV: Long): Unit = distinctCols.foreach { c =>
      refreshSums(spark, sourcePath, distinctAuxPath(summaryPath, c),
        keyCols :+ c, Nil,
        // the owner marker lets DROP MATERIALIZED VIEW refuse a direct
        // drop of a support relation (redirecting to the owning view)
        createProps = Map(AuxOfKey -> summaryPath.stripSuffix("/")),
        asOfVersion = Some(toV))
    }

    if (!GraftTable.exists(spark, summaryPath)) {
      // initial build: one full aggregate over the source PINNED at the
      // watermark version (a commit landing between the version read
      // and the scan would otherwise be silently double-applied by the
      // next refresh); the watermark AND the view definition
      // (source/keys/values) pin in the same creating commit, so
      // REFRESH MATERIALIZED VIEW can re-derive the spec. A PRUNED pin
      // (a crash left this aux missing long enough for source log
      // retention to pass the summary's watermark) gets the rebuild
      // remedy, not a raw time-travel error
      try src.snapshot(versionAsOf = Some(curV)) // eager existence check
      catch {
        case e: IllegalArgumentException
            if asOfVersion.isDefined && e.getMessage != null &&
              e.getMessage.contains("not in log") =>
          throw new IllegalStateException(
            s"cannot build $summaryPath at source version $curV: log " +
              s"retention pruned it from $sourcePath. Remedy: DROP and " +
              "re-CREATE the materialized view — a pruned watermark " +
              "cannot be rebuilt incrementally.", e)
      }
      GraftWriter.write(spark,
        summarizeSums(src.toDf(versionAsOf = Some(curV)),
          keyCols, valueCols, minMaxCols),
        summaryPath, WriteOptions(mode = WriteMode.ErrorIfExists,
          metadata = createProps ++ Map(
            SourceVersionKey -> curV.toString,
            SourceKey -> sourcePath,
            KeysKey -> keyCols.mkString(","),
            ValueKey -> valueCols.mkString(","),
            MinMaxKey -> minMaxCols.mkString(","),
            DistinctKey -> distinctCols.mkString(","),
            // the summary is engine-managed and every refresh merge adds
            // small files — bounded maintenance is the right DEFAULT
            // (same posture as the ANN codes table; compaction never
            // changes a read). Support relations inherit via their own
            // creating write below
            GraftWriter.AutoCompactKey -> "true")))
      refreshAuxes(curV)
      return Some(curV)
    }

    val summary = GraftTable(spark, summaryPath)
    val sumProps = summary.log.tableProperties()
    val lastV = sumProps.get(SourceVersionKey)
      .map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"$summaryPath is not a materialized aggregate of $sourcePath " +
          s"(missing $SourceVersionKey)"))
    // the requested spec must match the RECORDED definition wherever one
    // was recorded (an empty property is not persisted — count(*)-only
    // views legitimately lack ValueKey; pre-definition summaries lack
    // all of them and keep their historical direct-call contract): a
    // refresh with a SUBSET of the recorded columns would apply the
    // range's deltas to some columns, advance the shared watermark, and
    // leave the omitted columns silently, permanently wrong
    def recordedSpec(key: String): Option[Set[String]] =
      sumProps.get(key).map(_.split(',').toSet.filter(_.nonEmpty))
    def checkSpec(key: String, what: String, passed: Seq[String]): Unit =
      recordedSpec(key).foreach(r => require(r == passed.toSet,
        s"$summaryPath records $what [${r.toSeq.sorted.mkString(",")}] but " +
          s"this refresh asked for [${passed.sorted.mkString(",")}]; a " +
          "partial refresh would corrupt the omitted columns — drop and " +
          "rebuild the view to change its definition"))
    checkSpec(KeysKey, "grouping keys", keyCols)
    checkSpec(ValueKey, "summed columns", valueCols)
    checkSpec(MinMaxKey, "min/max columns", minMaxCols)
    // summaries written before the NULL-semantics fix lack the non-null
    // value counts and their values are NOT derivable from the sums —
    // fail with the remedy instead of a cryptic merge-validation error
    val sumSchema = summary.snapshot().schema.fieldNames.toSet
    specs.foreach { case (_, _, nv) =>
      require(sumSchema.contains(nv),
        s"$summaryPath predates the $nv column (exact sum() NULL " +
          "semantics); drop it and rebuild the materialized aggregate")
    }
    minMaxCols.foreach { c =>
      require(sumSchema.contains(s"min_$c") && sumSchema.contains(s"max_$c"),
        s"$summaryPath does not maintain min_$c/max_$c; drop it and " +
          "rebuild the materialized aggregate with the min/max entries")
    }
    // the distinct guard is stricter: an ABSENT DistinctKey still means
    // "no distinct columns" (a stray distinct col would build an orphan
    // aux never joined by readView and never dropped by DROP)
    require(recordedSpec(DistinctKey).getOrElse(Set.empty) == distinctCols.toSet,
      s"$summaryPath maintains count(DISTINCT) for " +
        s"[${recordedSpec(DistinctKey).getOrElse(Set.empty).toSeq.sorted.mkString(",")}] " +
        s"but this refresh asked for [${distinctCols.sorted.mkString(",")}]; " +
        "drop and rebuild the view to change its distinct set")
    if (curV <= lastV) { refreshAuxes(lastV); return None } // already current

    // per-key deltas from the change feed: insert/update_postimage rows
    // add, delete/update_preimage rows subtract — net zero keys drop out.
    // NULL values are coalesced to 0 PER ROW so a delta sum is never
    // NULL (a batch whose changed rows all carry NULL would otherwise
    // null the accumulated sum through `t.sum + s.d_sum`); exact sum()
    // NULL semantics are restored from the non-null value count: a sum
    // is NULL iff no non-null value remains, exactly as a recompute's.
    //
    // sum, count(*) and count(col) are LINEAR in the row multiset, so a
    // view without extrema reads the signed churn scan: a row a rewrite
    // carried over enters at +1 and -1 and cancels inside the groupBy
    // below, with no EXCEPT ALL over the churned rows. An extremum is not
    // linear — a carried-over row read as a removal would flag its group
    // for the bounded recompute after every rewrite — so min/max views
    // read the exact (netted) feed.
    val linear = minMaxCols.isEmpty
    val changes =
      try
        if (linear) src.signedChanges(lastV, curV) // EXCLUSIVE from
        else src.tableChanges(lastV, curV)
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("log retention") =>
          throw new IllegalStateException(
            s"cannot incrementally refresh $summaryPath: the source log " +
              s"at $sourcePath no longer covers versions ($lastV, $curV] " +
              "(log retention pruned part of the range). Remedy: REBUILD " +
              s"the materialized view — drop $summaryPath and re-create " +
              "it; the incremental path cannot recover a pruned change " +
              "range.", e)
      }
    val sign =
      if (linear) col(graft.io.Cdc.SignCol)
      else graft.io.Cdc.signOf(col(graft.io.Cdc.ChangeCol))
    def dv(i: Int) = s"__dv_$i"
    def nv(i: Int) = s"__nv_$i"
    val perCol = specs.zipWithIndex.flatMap { case ((c, _, _), i) =>
      Seq((coalesce(col(c).cast("long"), lit(0L)) * sign).as(dv(i)),
        when(col(c).isNotNull, sign).otherwise(0L).as(nv(i)))
    }
    // min/max deltas: per column the inserted-side and removed-side raw
    // values ride the same change scan; min/max aggregates skip NULLs,
    // so each side's extremum is NULL iff the batch touched no real
    // value of that side
    val mmProj = minMaxCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(when(sign === 1L, col(c)).as(s"__iv_$i"),
        when(sign === -1L, col(c)).as(s"__rv_$i"))
    }
    val mmAggs = minMaxCols.indices.flatMap(i => Seq(
      min(col(s"__iv_$i")).as(s"d_imin_$i"),
      max(col(s"__iv_$i")).as(s"d_imax_$i"),
      min(col(s"__rv_$i")).as(s"d_rmin_$i"),
      max(col(s"__rv_$i")).as(s"d_rmax_$i")))
    val aggs = (sum(col("__sign")).as("d_n") +:
      specs.indices.flatMap(i => Seq(
        sum(col(dv(i))).as(s"d_sum_$i"), sum(col(nv(i))).as(s"d_nv_$i")))) ++
      mmAggs
    // a batch can be sum/count-neutral yet move an extremum (delete
    // {1,4}, insert {2,3}) — any touched min/max value keeps the key
    val anyChange = (specs.indices
      .flatMap(i => Seq(col(s"d_sum_$i") =!= 0L, col(s"d_nv_$i") =!= 0L)) ++
      minMaxCols.indices
        .flatMap(i => Seq(col(s"d_imin_$i").isNotNull,
          col(s"d_rmin_$i").isNotNull)))
      .foldLeft(col("d_n") =!= 0L)(_ || _)
    val deltas0 = changes
      .select(keyCols.map(col) ++ Seq(sign.as("__sign")) ++ perCol ++ mmProj: _*)
      .groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(anyChange)

    // bounded extremum recompute: a group needs one iff (a) a removed
    // value ties-or-beats its STORED extremum (the summary alone cannot
    // say what replaces it), or (b) the group is NEW to the summary and
    // its in-range history already contains removals (the insert-side
    // extremum may have been deleted again). The recompute is one
    // source pass at curV — which already reflects the batch's inserts
    // — semi-joined to the affected keys (bounded by changed keys, so
    // the flag set broadcasts); untouched groups never rescan.
    val deltas =
      if (linear) deltas0
      else {
        // the delta aggregation feeds BOTH sides of the recompute join
        // (directly, and through the flagged set) — pin it once or the
        // change scan + groupBy run twice per refresh. Delta rows are
        // bounded by changed keys, never corpus-sized
        val pinned = deltas0.localCheckpoint(eager = true)
        Scratch.register(pinned)
        // removal-free batch (the common append case): no extremum can
        // have been lost, so skip the summary scan + flag join entirely
        // and carry the merge's recompute columns as typed NULLs
        val anyRemoval = minMaxCols.indices
          .map(i => col(s"d_rmin_$i").isNotNull).reduce(_ || _)
        if (pinned.filter(anyRemoval).limit(1).isEmpty) {
          minMaxCols.indices.foldLeft(pinned) { (acc, i) =>
            val vt = pinned.schema(s"d_imin_$i").dataType
            acc.withColumn(s"r_min_$i", lit(null).cast(vt))
              .withColumn(s"r_max_$i", lit(null).cast(vt))
          }.withColumn("__rec", lit(null).cast("boolean"))
        } else {
        val curSum = summary.toDf()
          .select(keyCols.map(col) ++
            minMaxCols.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c"))): _*)
          .withColumn("__t_present", lit(true))
        val dAl = pinned.alias("d")
        val tAl = curSum.alias("t")
        val keyEq = keyCols.map(k => col(s"d.$k") <=> col(s"t.$k")).reduce(_ && _)
        val touched = minMaxCols.zipWithIndex.map { case (c, i) =>
          (col(s"d.d_rmin_$i").isNotNull &&
            (col(s"t.min_$c").isNull || col(s"d.d_rmin_$i") <= col(s"t.min_$c"))) ||
            (col(s"d.d_rmax_$i").isNotNull &&
              (col(s"t.max_$c").isNull || col(s"d.d_rmax_$i") >= col(s"t.max_$c")))
        }.reduce(_ || _)
        val newWithRemovals = col("t.__t_present").isNull &&
          minMaxCols.indices.map(i => col(s"d.d_rmin_$i").isNotNull)
            .reduce(_ || _)
        val flagged = dAl.join(tAl, keyEq, "left_outer")
          .filter(touched || newWithRemovals)
          .select(keyCols.map(k => col(s"d.$k")): _*)
        // flagged ⊆ the batch's changed keys, so the pinned delta-row
        // count (cheap — localCheckpointed) upper-bounds the flag set;
        // only hint the broadcast when that bound is small. Past the
        // bound, Spark/AQE picks the strategy (and still broadcasts at
        // runtime if the ACTUAL flagged set turns out tiny)
        val recomputed = recomputeExtrema(
          src.toDf(versionAsOf = Some(curV)), flagged, keyCols, minMaxCols,
          hintBroadcast = pinned.count() <= BroadcastFlagMaxKeys)
          .alias("r")
        val dAl2 = pinned.alias("d2")
        val joinEq = keyCols.map(k => col(s"d2.$k") <=> col(s"r.$k")).reduce(_ && _)
        dAl2.join(recomputed, joinEq, "left_outer")
          .select(pinned.columns.map(c => col(s"d2.$c")).toSeq ++
            minMaxCols.indices
              .flatMap(i => Seq(col(s"r.r_min_$i"), col(s"r.r_max_$i"))) :+
            col("r.__rec"): _*)
        }
      }

    // upsert the deltas; the source-version watermark rides the SAME
    // commit — atomic exactly-once. NULL-SAFE equality: a NULL grouping
    // key is a real group (sum() skips values, not groups) — with plain
    // `=` its delta row would never match and every refresh would
    // insert a fresh duplicate NULL-key summary row
    val pred = keyCols.map(k => s"s.$k <=> t.$k").mkString(" AND ")
    val updates = specs.zipWithIndex.flatMap { case ((_, sumC, nvC), i) =>
      val newNv = coalesce(col(s"t.$nvC"), lit(0L)) + col(s"s.d_nv_$i")
      Seq(
        sumC -> when(newNv === 0L, lit(null).cast("long"))
          .otherwise(coalesce(col(s"t.$sumC"), lit(0L)) + col(s"s.d_sum_$i")),
        nvC -> newNv)
    }.toMap
    // extrema: a recomputed group takes the fresh scan's value (it
    // already reflects the batch's inserts); otherwise removals proved
    // harmless and inserts fold against the stored extremum (NULL-aware:
    // least/greatest of a NULL and a value is NULL in Spark, so the
    // all-NULL-so-far and no-inserts cases branch explicitly)
    val mmUpdates = minMaxCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        s"min_$c" -> when(col("s.__rec") === true, col(s"s.r_min_$i"))
          .otherwise(
            when(col(s"t.min_$c").isNull, col(s"s.d_imin_$i"))
              .when(col(s"s.d_imin_$i").isNull, col(s"t.min_$c"))
              .otherwise(least(col(s"t.min_$c"), col(s"s.d_imin_$i")))),
        s"max_$c" -> when(col("s.__rec") === true, col(s"s.r_max_$i"))
          .otherwise(
            when(col(s"t.max_$c").isNull, col(s"s.d_imax_$i"))
              .when(col(s"s.d_imax_$i").isNull, col(s"t.max_$c"))
              .otherwise(greatest(col(s"t.max_$c"), col(s"s.d_imax_$i")))))
    }.toMap
    val inserts = specs.zipWithIndex.flatMap { case ((_, sumC, nvC), i) =>
      Seq(
        sumC -> when(col(s"s.d_nv_$i") === 0L, lit(null).cast("long"))
          .otherwise(col(s"s.d_sum_$i")),
        nvC -> col(s"s.d_nv_$i"))
    }.toMap
    val mmInserts = minMaxCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        s"min_$c" -> when(col("s.__rec") === true, col(s"s.r_min_$i"))
          .otherwise(col(s"s.d_imin_$i")),
        s"max_$c" -> when(col("s.__rec") === true, col(s"s.r_max_$i"))
          .otherwise(col(s"s.d_imax_$i")))
    }.toMap
    MergeClausesExecutor.merge(spark, deltas, summaryPath, pred,
      matched = Seq(
        // a key whose row count nets to zero disappeared from the source
        Delete(Some(col("t.n_rows") + col("s.d_n") === 0L)),
        UpdateSet(updates ++ mmUpdates +
          ("n_rows" -> (col("t.n_rows") + col("s.d_n"))))),
      notMatched = Seq(InsertValues(
        keyCols.map(k => k -> col(s"s.$k")).toMap ++
          inserts ++ mmInserts + ("n_rows" -> col("s.d_n")),
        // a group created AND fully deleted within the range has no
        // summary row (sum/count-only deltas filtered such keys out
        // before min/max values could keep them alive)
        if (minMaxCols.isEmpty) None else Some(col("s.d_n") =!= 0L))),
      extraMetadata = Map(SourceVersionKey -> curV.toString))
    refreshAuxes(curV)
    Some(curV)
  }

  /** [[refresh]] driven by the summary table alone: the view definition
    * (source path, keys, summed column) reads back from the carried
    * properties the creating commit recorded — the engine behind
    * `REFRESH MATERIALIZED VIEW t`. Errors loudly on a table that is
    * not a materialized aggregate.
    */
  def refreshByTarget(spark: SparkSession, summaryPath: String): Option[Long] = {
    val (source, keys, values, minmax, dist) = definitionOf(spark, summaryPath)
    refreshSums(spark, source, summaryPath, keys, values,
      minMaxCols = minmax, distinctCols = dist)
  }

  /** The view AS DECLARED: keys plus each requested aggregate, with
    * `avg(col)` / `count(col)` / `count(*)` DERIVED from the maintained
    * sums and counts (`sum_<col>/nvals_<col>`, `n_rows`) — exact by
    * construction, including sum()/avg() NULL semantics (an all-NULL
    * group reads NULL through `nvals = 0`). Falls back to the raw
    * summary for views created before [[SelectKey]] existed or built
    * directly via [[refreshSums]].
    */
  def readView(spark: SparkSession, summaryPath: String): DataFrame = {
    val (_, keys, values, _, dist) = definitionOf(spark, summaryPath)
    val (df, _) = summaryWithSupports(spark, summaryPath, keys, dist)
    val props = GraftTable(spark, summaryPath).log.tableProperties()
    props.get(SelectKey).filter(_.nonEmpty) match {
      case None =>
        // raw-summary fallback (API-built views, pre-SelectKey views):
        // surface the distinct counts under their public names — never
        // the internal __nd_<col> join column, whose NULL (no support
        // rows) must read as distinct count 0 exactly as the declared
        // path's coalesce does
        dist.foldLeft(df)((acc, c) =>
          acc.withColumn(s"count_distinct_$c",
            coalesce(col(s"__nd_$c"), lit(0L))).drop(s"__nd_$c"))
      case Some(sel) =>
        val naming = specsOf(values)
          .map { case (c, sumC, nvC) => c -> ((sumC, nvC)) }.toMap
        val aggCols = sel.split(',').toSeq.filter(_.nonEmpty).map { e =>
          val Array(fn, c, al) = e.split(":", -1)
          def name(default: String) = if (al.isEmpty) default else al
          fn match {
            case "sum" => col(naming(c)._1).as(name(s"sum_$c"))
            case "avg" =>
              // NULL iff the group has no non-null value: sum_<col> is
              // NULL exactly when nvals_<col> = 0 (maintained invariant)
              (col(naming(c)._1).cast("double") / col(naming(c)._2))
                .as(name(s"avg_$c"))
            case "count" if c == "*" => col("n_rows").as(name("count_star"))
            case "count" => col(naming(c)._2).as(name(s"count_$c"))
            case "countd" =>
              coalesce(col(s"__nd_$c"), lit(0L))
                .as(name(s"count_distinct_$c"))
            case "min" => col(s"min_$c").as(name(s"min_$c"))
            case "max" => col(s"max_$c").as(name(s"max_$c"))
            case other => throw new IllegalStateException(
              s"unknown recorded aggregate form '$other' in $SelectKey")
          }
        }
        df.select(keys.map(col) ++ aggCols: _*)
    }
  }

  /** The pinned, watermark-consistent summary relation with one
    * `__nd_<col>` distinct-count column joined per requested
    * count(DISTINCT) column. Returns the DataFrame and the SOURCE
    * version the whole pair reflects — shared by [[readView]] and the
    * transparent aggregate rewrite
    * ([[graft.plans.MatviewRewriteRule]]).
    */
  private[graft] def summaryWithSupports(
      spark: SparkSession,
      summaryPath: String,
      keys: Seq[String],
      dist: Seq[String]): (DataFrame, Long) = {
    val sumT = GraftTable(spark, summaryPath)
    // count(DISTINCT c) joins the support relation's per-key non-NULL
    // row count onto the summary (left join: a key whose values are all
    // NULL has no support rows — its distinct count reads 0). The aux
    // watermark must match the summary's: a split (crash between the
    // two merges, or a concurrent source commit between them) would
    // silently mix source versions — refuse with the converging remedy.
    //
    // Every check AND scan below derives from ONE pinned version per
    // table (summary and each aux): checking latest properties and then
    // scanning latest separately races a REFRESH landing in between into
    // exactly the mixed-version join the check exists to refuse. A
    // refresh landing BETWEEN the summary pin and an aux pin shows as a
    // watermark mismatch — retried a couple of times (the refresh that
    // caused it also converges it), then refused loudly.
    def pinAll(): Either[String, (Long, Long, Seq[(String, Long)])] = {
      val sumV = sumT.version()
      val mainV = sumT.log.tablePropertiesAt(sumV)(SourceVersionKey).toLong
      val pins = dist.map { c =>
        // a crash between the summary's creating write and the aux's
        // build leaves no aux at all — same split-state class as a
        // watermark mismatch, same converging remedy
        require(GraftTable.exists(spark, distinctAuxPath(summaryPath, c)),
          s"the count(DISTINCT $c) support relation at " +
            s"${distinctAuxPath(summaryPath, c)} does not exist yet — run " +
            "REFRESH MATERIALIZED VIEW again to converge the view")
        val auxT = GraftTable(spark, distinctAuxPath(summaryPath, c))
        val auxOwnV = auxT.version()
        val auxSrcV =
          auxT.log.tablePropertiesAt(auxOwnV)(SourceVersionKey).toLong
        (c, auxOwnV, auxSrcV)
      }
      pins.find(_._3 != mainV) match {
        case Some((c, _, auxSrcV)) => Left(
          s"the count(DISTINCT $c) support relation reflects source " +
            s"version $auxSrcV but the summary reflects $mainV — run " +
            "REFRESH MATERIALIZED VIEW again to converge them")
        case None => Right((sumV, mainV, pins.map(p => (p._1, p._2))))
      }
    }
    val (sumV, mainV, auxPins) = Iterator.range(0, 3).map(_ => pinAll())
      .collectFirst { case Right(ok) => ok }
      .getOrElse(pinAll().fold(
        msg => throw new IllegalStateException(msg),
        identity))
    var df = sumT.toDf(versionAsOf = Some(sumV))
    auxPins.foreach { case (c, auxOwnV) =>
      val auxT = GraftTable(spark, distinctAuxPath(summaryPath, c))
      val nd = auxT.toDf(versionAsOf = Some(auxOwnV)).filter(col(c).isNotNull)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(s"__nd_$c"))
      val cond = keys.map(k => df(k) <=> nd(k)).reduce(_ && _)
      df = keys.foldLeft(df.join(nd, cond, "left_outer"))(
        (acc, k) => acc.drop(nd(k)))
    }
    (df, mainV)
  }

  /** The bounded extremum-recompute scan: fresh min/max of EXACTLY the
    * flagged groups, via a broadcast left-semi join of the (changed-key-
    * bounded) flag set into one narrow source pass + a partial-aggregated
    * groupBy. The source is read once with only (keys, minMaxCols)
    * columns; on a source partitioned by the grouping key, Spark's
    * dynamic partition pruning narrows the scan to the affected
    * partitions (ExplainAudit §T prints this plan). Output: keys,
    * r_min_<i>/r_max_<i>, __rec = true.
    */
  private[graft] def recomputeExtrema(
      source: DataFrame,
      flagged: DataFrame,
      keyCols: Seq[String],
      minMaxCols: Seq[String],
      /** The broadcast hint is only safe when the flagged key set is
        * provably small: a batch that deletes a range BOUNDARY (price
        * ceiling, latest timestamp) flags every changed group, and on a
        * high-cardinality grouping key forcing the broadcast can exceed
        * driver/broadcast memory. Callers gate this on a cheap upper
        * bound (the pinned delta-row count); ungated it stays true for
        * the audited small-flag-set shape.
        */
      hintBroadcast: Boolean = true): DataFrame = {
    val flAl =
      (if (hintBroadcast) broadcast(flagged) else flagged).alias("f")
    val srcKeyEq = keyCols.map(k => col(s"sr.$k") <=> col(s"f.$k")).reduce(_ && _)
    val rAggs = minMaxCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).as(s"r_min_$i"), max(col(c)).as(s"r_max_$i"))
    }
    source.select((keyCols ++ minMaxCols).distinct.map(col): _*).alias("sr")
      .join(flAl, srcKeyEq, "left_semi")
      .groupBy(keyCols.map(col): _*)
      .agg(rAggs.head, rAggs.tail: _*)
      .withColumn("__rec", lit(true))
  }

  /** The recorded view definition (source path, grouping keys, summed
    * columns) from the summary's carried properties — shared by every
    * definition-driven entry point.
    */
  private[graft] def definitionOf(
      spark: SparkSession,
      summaryPath: String): (String, Seq[String], Seq[String], Seq[String], Seq[String]) = {
    require(GraftTable.exists(spark, summaryPath),
      s"not a graft table: $summaryPath")
    val props = GraftTable(spark, summaryPath).log.tableProperties()
    val source = props.getOrElse(SourceKey, throw new IllegalStateException(
      s"$summaryPath is not a materialized view (missing $SourceKey — " +
        "was it created with CREATE MATERIALIZED VIEW / MaterializedAgg?)"))
    (source,
      props(KeysKey).split(',').toSeq.filter(_.nonEmpty),
      // absent for count(*)-only views (an empty property value is not
      // persisted) — that's a legal zero-sum definition
      props.getOrElse(ValueKey, "").split(',').toSeq.filter(_.nonEmpty),
      // absent (pre-min/max summaries or none requested) — legal
      props.getOrElse(MinMaxKey, "").split(',').toSeq.filter(_.nonEmpty),
      props.getOrElse(DistinctKey, "").split(',').toSeq.filter(_.nonEmpty))
  }

  /** Continuous maintenance: a change-feed stream whose every
    * micro-batch triggers one [[refresh]]. The stream is the TRIGGER,
    * not the data path — refresh reads the change feed against its own
    * committed watermark, so a replayed micro-batch (crash/restart
    * re-delivery) finds the watermark already advanced and applies
    * nothing: exactly-once without coupling to Spark's batch ids. Call
    * `processAllAvailable()`/`awaitTermination()` on the returned query.
    */
  def maintainStream(
      spark: SparkSession,
      sourcePath: String,
      summaryPath: String,
      keyCols: Seq[String],
      valueCol: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    maintainStreamSums(
      spark, sourcePath, summaryPath, keyCols, Seq(valueCol), checkpointDir)

  /** [[maintainStream]] for multi-sum views (several `sum(col)`
    * entries) — the single-column form would refuse the multi-column
    * summary layout at the first trigger.
    */
  def maintainStreamSums(
      spark: SparkSession,
      sourcePath: String,
      summaryPath: String,
      keyCols: Seq[String],
      valueCols: Seq[String],
      checkpointDir: String,
      minMaxCols: Seq[String] = Nil,
      distinctCols: Seq[String] = Nil): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.Streams.readChangeFeed(spark, sourcePath)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: DataFrame, _: Long) =>
        refreshSums(spark, sourcePath, summaryPath, keyCols, valueCols,
          minMaxCols = minMaxCols, distinctCols = distinctCols)
        ()
      }
      .start()

  /** Continuous maintenance from the RECORDED definition alone: the
    * summary's carried properties name the source, keys, and summed
    * columns — the streaming analog of `REFRESH MATERIALIZED VIEW`.
    */
  def maintainStreamByTarget(
      spark: SparkSession,
      summaryPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (source, keys, values, minmax, dist) = definitionOf(spark, summaryPath)
    maintainStreamSums(spark, source, summaryPath, keys, values,
      checkpointDir, minmax, dist)
  }

  /** The summary shape: one row per key with the exact integer sum, the
    * row count, and the non-null value count (`n_vals` carries sum()'s
    * NULL semantics through incremental maintenance: sum_val is NULL iff
    * n_vals = 0).
    */
  def summarize(df: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame =
    summarizeSums(df, keyCols, Seq(valueCol))

  /** [[summarize]] over multiple summed columns: per column the exact
    * integer sum + non-null value count, plus one shared row count and
    * any requested `min_<col>`/`max_<col>` extrema (source type
    * preserved — extrema are never summed, so the integral-sum rule
    * does not apply to them).
    */
  def summarizeSums(
      df: DataFrame, keyCols: Seq[String], valueCols: Seq[String],
      minMaxCols: Seq[String] = Nil): DataFrame = {
    // single column keeps the historical (sum_val, n_rows, n_vals)
    // column ORDER — existing summaries and positional readers rely on it
    val aggs = (valueCols match {
      case Seq(only) => Seq(
        sum(col(only).cast("long")).as("sum_val"),
        count(lit(1)).as("n_rows"),
        count(col(only)).as("n_vals"))
      case many => specsOf(many).flatMap { case (c, sumC, nvC) =>
        Seq(sum(col(c).cast("long")).as(sumC), count(col(c)).as(nvC))
      } :+ count(lit(1)).as("n_rows")
    }) ++ minMaxCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
