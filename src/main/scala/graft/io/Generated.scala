package graft.io

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.log.AddFile

/** Generated and identity columns (Delta's `GENERATED ALWAYS AS (expr)`
  * and `GENERATED ... AS IDENTITY` surface), declared as carried-forward
  * table properties so they ride through commits, checkpoints, clones
  * and SHOW CREATE TABLE with no log-format change:
  *
  *   - `graft.generated.<col>`  = SQL expression over the table's other
  *     columns. A batch write that omits the column gets it computed;
  *     a write that supplies it has each row checked against the
  *     expression as it is written, in the same guard as CHECK
  *     constraints ([[Invariants]]), which also covers UPDATE/MERGE
  *     rewrites through `writeCow`.
  *   - `graft.identity.<col>`   = "start,step". A batch write that
  *     omits the column gets unique, strictly-increasing (per `step`'s
  *     sign) values above the table's high-water mark; values are NOT
  *     guaranteed consecutive (same contract as Delta identity — the
  *     per-partition id stride trades density for a zero-shuffle,
  *     zero-extra-pass assignment). The high-water mark is stored as
  *     `graft.identity.<col>.hwm` and advanced from the WRITTEN files'
  *     footer stats — no extra data pass. Supplying the column
  *     explicitly is allowed (GENERATED BY DEFAULT semantics); the
  *     high-water mark still advances past the supplied values.
  *
  * Concurrency: identity assignment reads the high-water mark, so two
  * concurrent assigning writes from the same mark would collide —
  * `GraftWriter.write` therefore CAS-pins identity-assigning commits
  * and re-runs the assignment from the fresh mark when the CAS loses
  * (the one write shape that re-stages on conflict, because the staged
  * bytes embed the allocated values).
  *
  * The streaming sink commits files through its own epoch protocol and
  * does not auto-fill either feature — a streaming query must compute
  * generated/identity values in its projection (the DSv2 streaming
  * write checks the generated ones).
  */
private[graft] object Generated {

  val Prefix: String = graft.log.CommitLog.ReservedPrefix + "generated."

  /** `graft.default.<col>` = SQL expression supplying the column's value
    * when a write OMITS the column (Delta's `DEFAULT` surface). Unlike
    * generated columns there is no row invariant — a default only
    * affects writes that leave the column out, so it may be declared or
    * changed at any time and is never checked on write.
    */
  val DefaultPrefix: String = graft.log.CommitLog.ReservedPrefix + "default."
  /** Shared with the log layer: commit-time hwm advance protection and
    * the conflict checker's property comparison both key on it.
    */
  val IdentityPrefix: String = graft.log.CommitLog.IdentityPrefix

  /** col -> generating SQL expression. */
  def generatedOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** col -> default SQL expression. */
  def defaultsOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith(DefaultPrefix) =>
        k.stripPrefix(DefaultPrefix) -> v
    }

  /** A default expression must be column-free: the two fill sites
    * resolve it against DIFFERENT frames (the incoming write frame here;
    * the source⋈target join frame in merge's insert path), so a column
    * reference would silently produce different per-row values per path.
    * Validated at every fill site (mirrors fillGenerated's reference
    * check); literals, functions of literals, and
    * `current_date()`-style nullary calls all pass.
    */
  def validateDefaults(
      spark: SparkSession,
      defs: Map[String, String]): Unit =
    defs.foreach { case (c, sql) =>
      val refs = org.apache.spark.sql.graft.GraftInternal
        .referencedNameParts(spark, expr(sql)).map(_.mkString("."))
      require(refs.isEmpty,
        s"default for column '$c' references columns ${refs.mkString(", ")} " +
          "— default expressions must be column-free (they are resolved " +
          "against different frames on the write and merge-insert paths)")
    }

  /** Fill columns the frame OMITS with their declared defaults (cast to
    * the declared type when the table already has one; the expression's
    * own type on a creating write). Supplied columns — any case — are
    * left untouched.
    */
  def fillDefaults(
      df: DataFrame,
      declaredSchema: Option[StructType],
      props: Map[String, String]): DataFrame = {
    val defs = defaultsOf(props)
    if (defs.isEmpty) return df
    validateDefaults(df.sparkSession, defs)
    defs.foldLeft(df) { case (d, (c, sql)) =>
      val declared = declaredSchema.flatMap(s =>
        s.find(_.name.equalsIgnoreCase(c)).map(_.dataType))
      // a default never evolves the schema by itself: on an EXISTING
      // table only declared columns are filled (Delta's DEFAULT is per
      // existing column); a creating write takes the expression's type
      if (hasColumn(d, c) || (declaredSchema.isDefined && declared.isEmpty)) d
      else {
        val e = expr(sql)
        d.withColumn(c, declared.map(e.cast).getOrElse(e))
      }
    }
  }

  /** col -> (start, step). The stored value is "start,step". */
  def identityOf(props: Map[String, String]): Map[String, (Long, Long)] =
    props.collect {
      case (k, v) if k.startsWith(IdentityPrefix) && !k.endsWith(".hwm") =>
        val parts = v.split(",").map(_.trim)
        require(parts.length == 2 && parts.forall(_.matches("-?\\d+")),
          s"identity property $k must be 'start,step'; got '$v'")
        val step = parts(1).toLong
        require(step != 0, s"identity step of $k must be non-zero")
        k.stripPrefix(IdentityPrefix) -> ((parts(0).toLong, step))
    }

  def hwmKey(col: String): String = s"$IdentityPrefix$col.hwm"

  /** Supplied-column membership, resolved the way Spark resolves names:
    * case-insensitively unless `spark.sql.caseSensitive` is on. A caller
    * supplying `ID` for a declared `id` has supplied the column — the
    * case-sensitive check treated it as absent and `withColumn` then
    * silently REPLACED the supplied values with computed ones.
    */
  private def hasColumn(d: DataFrame, c: String): Boolean =
    if (d.sparkSession.sessionState.conf.caseSensitiveAnalysis)
      d.columns.contains(c)
    else d.columns.exists(_.equalsIgnoreCase(c))

  /** Compute absent generated columns (cast to the declared type when the
    * table already has one). A generating expression may reference only
    * the table's NON-generated columns — validated here so a typo (or a
    * cycle) fails loudly instead of resolving against nothing.
    */
  def fillGenerated(
      spark: SparkSession,
      df: DataFrame,
      declaredSchema: Option[StructType],
      props: Map[String, String]): DataFrame = {
    val gens = generatedOf(props)
    if (gens.isEmpty) return df
    val baseCols =
      ((declaredSchema.map(_.fieldNames.toSeq).getOrElse(df.columns.toSeq).toSet ++
        df.columns) -- gens.keySet).map(_.toLowerCase(java.util.Locale.ROOT))
    gens.foldLeft(df) { case (d, (c, sql)) =>
      val e = expr(sql)
      val refs = org.apache.spark.sql.graft.GraftInternal
        .referencedNameParts(spark, e).map(_.mkString("."))
      val bad = refs.map(_.toLowerCase(java.util.Locale.ROOT))
        .filterNot(baseCols)
      require(bad.isEmpty,
        s"generated column '$c' references non-base columns: " +
          s"${bad.mkString(", ")} (generating expressions may only use " +
          "the table's non-generated columns)")
      if (hasColumn(d, c)) d // supplied: checked as it is written
      else {
        val declared = declaredSchema.flatMap(s =>
          s.find(_.name == c).map(_.dataType))
        d.withColumn(c, declared.map(e.cast).getOrElse(e))
      }
    }
  }

  /** Assign absent identity columns above the current high-water mark.
    * Returns the frame and whether any assignment happened (the caller
    * must then CAS the commit on the version the mark was read at).
    * `monotonically_increasing_id()` is unique and non-negative within
    * the write, so `hwm + step * (id + 1)` is unique and strictly beyond
    * the mark — with gaps, never duplicates.
    */
  def assignIdentity(
      df: DataFrame,
      props: Map[String, String]): (DataFrame, Boolean) = {
    val ids = identityOf(props)
    if (ids.isEmpty) return (df, false)
    var assigned = false
    val out = ids.foldLeft(df) { case (d, (c, (start, step))) =>
      if (hasColumn(d, c)) d
      else {
        assigned = true
        val hwm = props.get(hwmKey(c)).map(_.toLong).getOrElse(start - step)
        d.withColumn(c,
          lit(hwm) + lit(step) * (monotonically_increasing_id() + 1L))
      }
    }
    (out, assigned)
  }

  /** New high-water-mark properties derived from the WRITTEN files'
    * footer stats (stats are keyed by physical column names) — a pure
    * metadata read, no extra pass over the data. Emitted only when the
    * mark actually advances, so a write without identity traffic adds
    * no property churn.
    */
  def hwmUpdates(
      added: Seq[AddFile],
      props: Map[String, String],
      /** The written frame, consulted ONLY when some non-empty written
        * file lacks footer stats for an identity column (stats disabled,
        * or a column beyond the writer's stats budget). Advancing from a
        * PARTIAL stats view would under-advance the mark and the next
        * assigning write would silently reallocate the same values — the
        * one extra aggregate pass is the price of correctness, paid only
        * in that rare case.
        */
      writtenFallback: Option[DataFrame] = None): Map[String, String] = {
    val ids = identityOf(props)
    if (ids.isEmpty || added.isEmpty) return Map.empty
    val mapping = ColumnMapping.fromProps(props)
    ids.flatMap { case (c, (_, step)) =>
      val phys = ColumnMapping.physicalName(mapping, c)
      val perFile = added.filter(_.numRecords > 0).map(_.stats.get(phys)
        .flatMap(s => (if (step > 0) s.max else s.min).map(_.toLong)))
      val statsEdge = perFile.flatten
      val edge: Option[Long] =
        if (perFile.isEmpty) None // only zero-row files: nothing to advance
        else if (perFile.forall(_.isDefined))
          Some(if (step > 0) statsEdge.max else statsEdge.min)
        else writtenFallback.flatMap { d =>
          d.columns.find(_.equalsIgnoreCase(c)).flatMap { cc =>
            val agg = (if (step > 0) max(col(cc)) else min(col(cc))).cast("long")
            val row = d.agg(agg).head()
            if (row.isNullAt(0)) None else Some(row.getLong(0))
          }
        }.orElse {
          // no fallback frame available: best-effort partial edge (the
          // pre-fallback behavior) — still never moves the mark backwards
          if (statsEdge.isEmpty) None
          else Some(if (step > 0) statsEdge.max else statsEdge.min)
        }
      val cur = props.get(hwmKey(c)).map(_.toLong)
      val next = edge.map { e =>
        if (step > 0) (e +: cur.toSeq).max else (e +: cur.toSeq).min
      }
      next.filter(n => !cur.contains(n)).map(n => hwmKey(c) -> n.toString)
    }
  }

  /** Overwrite declared generated columns (minus `except`, the ones a
    * DML/MERGE explicitly assigned) with their generating expressions —
    * the rewrite-path counterpart of [[fillGenerated]]. On carried-over
    * rows the recompute is an identity by the table invariant; on rows
    * whose BASE columns just changed it is what keeps the invariant true
    * (Delta parity: UPDATE/MERGE recompute generated columns that are
    * not explicitly set). Explicitly assigned ones are left alone and
    * checked as they are written instead.
    */
  /** Row-level variant of [[recompute]] for clause merges: a generated
    * column keeps its dispatched value on rows where `flagOf(col)` is
    * true (the dispatched clause EXPLICITLY assigned it — checked as it
    * is written) and is recomputed from its expression everywhere else.
    * The frame must already carry final base-column values under their
    * plain names (post-dispatch output), so the expression resolves
    * unambiguously.
    */
  def recomputeGated(
      df: DataFrame,
      declaredSchema: StructType,
      props: Map[String, String],
      flagOf: String => org.apache.spark.sql.Column): DataFrame = {
    val gens = generatedOf(props)
    if (gens.isEmpty) return df
    gens.foldLeft(df) { case (d, (c, sql)) =>
      val declared = declaredSchema.find(_.name.equalsIgnoreCase(c))
        .map(_.dataType)
      val e = expr(sql)
      val recomputed = declared.map(e.cast).getOrElse(e)
      d.withColumn(c, when(flagOf(c), col(c)).otherwise(recomputed))
    }
  }

  def recompute(
      df: DataFrame,
      declaredSchema: StructType,
      props: Map[String, String],
      except: Set[String] = Set.empty): DataFrame = {
    val gens = generatedOf(props)
    if (gens.isEmpty) return df
    val skip = except.map(_.toLowerCase(java.util.Locale.ROOT))
    gens.foldLeft(df) { case (d, (c, sql)) =>
      if (skip(c.toLowerCase(java.util.Locale.ROOT))) d
      else {
        val declared = declaredSchema.find(_.name.equalsIgnoreCase(c))
          .map(_.dataType)
        val e = expr(sql)
        d.withColumn(c, declared.map(e.cast).getOrElse(e))
      }
    }
  }
}
