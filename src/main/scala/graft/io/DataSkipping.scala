package graft.io

import java.sql.Timestamp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.log.AddFile

/** Comparison op for data-skipping filters. */
sealed trait SkipOp
object SkipOp {
  case object Eq extends SkipOp
  case object Lt extends SkipOp
  case object Le extends SkipOp
  case object Gt extends SkipOp
  case object Ge extends SkipOp
  /** value ignored; prunes via per-file null counts. */
  case object IsNull extends SkipOp
  /** value ignored; prunes all-null files via nullCount == numRecords. */
  case object IsNotNull extends SkipOp
  /** value is a Seq of candidates; prunes when none lies in [min, max]. */
  case object In extends SkipOp
}

/** A simple `column op literal` filter: the caller-facing filter of
  * [[GraftTable.scanPruned]] (any value `lit` accepts; a Seq of them for
  * In; ignored for IsNull/IsNotNull) and the footer-stats shape
  * [[DataSkipping.toSkipFilters]] compiles a conjunct to (Int/Long/
  * Double/String, timestamps as micros or java.sql.Timestamp).
  */
final case class DataFilter(column: String, op: SkipOp, value: Any = null) {
  def toColumn: Column = op match {
    case SkipOp.Eq => col(column) === lit(value)
    case SkipOp.Lt => col(column) < lit(value)
    case SkipOp.Le => col(column) <= lit(value)
    case SkipOp.Gt => col(column) > lit(value)
    case SkipOp.Ge => col(column) >= lit(value)
    case SkipOp.IsNull => col(column).isNull
    case SkipOp.IsNotNull => col(column).isNotNull
    case SkipOp.In =>
      col(column).isin(value.asInstanceOf[Seq[Any]]: _*)
  }
}

/** Which files can hold a row matching a resolved condition: graft's one
  * file pruner, [[pruner]]. A conjunct over partition columns alone is
  * evaluated on the file's typed partition row by [[PartitionPredicate]]
  * (the hive NULL sentinel, the session time zone, casts, OR, IN and
  * `<=>` all hold there); every other conjunct is compiled to footer-stats
  * filters ([[toSkipFilters]]) and checked against the file's min/max
  * and null counts ([[mayMatch]]). The scan's index
  * ([[graft.sources.GraftFileIndex]], and through it
  * [[GraftTable.scanPruned]]), the writer's partition scopes, the DML and
  * merge conflict checks ([[matcherFor]]) and merge key-range pruning
  * all call it, so a scan and a conflict check cannot disagree about a
  * file.
  */
private[graft] object DataSkipping {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, SubqueryExpression}
  import org.apache.spark.unsafe.types.UTF8String

  /** The files of `rows` (typed partition rows of layout `partSchema`,
    * each with its files) that may hold a row satisfying every conjunct
    * of `conds`. Conjuncts name partition columns as in `partSchema` and
    * data columns as in `statsSchema`, the names footer stats are keyed
    * by. A partition conjunct must be resolved, deterministic and
    * subquery-free; anything else goes to the footer-stats check, which
    * keeps every file it cannot rule out. Built once per call with no
    * code generation (the partition test is interpreted, see
    * [[PartitionPredicate.compile]]); the returned function keeps each
    * row, possibly with no files left.
    */
  def pruner(
      partSchema: StructType,
      statsSchema: StructType,
      conds: Seq[Expression])
      : Seq[(InternalRow, Seq[AddFile])] => Seq[(InternalRow, Seq[AddFile])] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val partNames = partSchema.fieldNames.toSet
    val (onPartitions, onStats) = conds.flatMap(conjuncts).partition(c =>
      c.resolved && c.deterministic && !SubqueryExpression.hasSubquery(c) &&
        c.references.forall(a => partNames(a.name)))
    val keepRow = PartitionPredicate.compile(partSchema, onPartitions)
    val skips = onStats.flatMap(toSkipFilters)
    rows => rows.collect { case (row, files) if keepRow(row) =>
      (row,
        if (skips.isEmpty) files
        else files.filter(f => skips.forall(mayMatch(f, statsSchema, _))))
    }
  }

  /** [[pruner]] as a test of one file, which need not be live in `snap`
    * (a concurrent commit's append): `conds` are resolved against
    * `snap`'s logical schema and read partition values in time zone
    * `zone`.
    */
  def fileMatcher(
      snap: graft.log.Snapshot,
      zone: String,
      conds: Seq[Expression]): AddFile => Boolean = {
    val m = ColumnMapping.fromSnapshot(snap)
    val partSchema = PartitionPredicate.schemaOf(snap)
    // footer stats are keyed by physical name; partition columns are
    // never renamed
    val physConds = conds.map(_.transform {
      case a: AttributeReference if !snap.partitionColumns.contains(a.name) =>
        a.withName(ColumnMapping.physicalName(m, a.name))
    })
    val prune = pruner(partSchema,
      ColumnMapping.physicalSchema(snap.schema, m), physConds)
    // one typed row per distinct partition-value map, as in a scan
    val rowOf = new java.util.concurrent.ConcurrentHashMap[Map[String, String], InternalRow]()
    f => {
      val row = rowOf.computeIfAbsent(f.partitionValues,
        _ => PartitionPredicate.rows(partSchema, Seq(f), zone).head._1)
      prune(Seq((row, Seq(f)))).exists(_._2.nonEmpty)
    }
  }

  /** Catalyst comparison filters → data-skipping shapes (conservative:
    * anything unrecognized skips nothing): the footer-stats half of
    * [[pruner]].
    */
  def toSkipFilters(e: Expression): Seq[DataFilter] = {
    def value(v: Any): Any = v match {
      case u: UTF8String => u.toString
      case other => other
    }
    def mk(a: Attribute, op: SkipOp, v: Any): Seq[DataFilter] =
      if (v == null) Nil else Seq(DataFilter(a.name, op, value(v)))
    e match {
      case EqualTo(a: AttributeReference, Literal(v, _)) => mk(a, SkipOp.Eq, v)
      case EqualTo(Literal(v, _), a: AttributeReference) => mk(a, SkipOp.Eq, v)
      case LessThan(a: AttributeReference, Literal(v, _)) => mk(a, SkipOp.Lt, v)
      case LessThan(Literal(v, _), a: AttributeReference) => mk(a, SkipOp.Gt, v)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => mk(a, SkipOp.Le, v)
      case LessThanOrEqual(Literal(v, _), a: AttributeReference) => mk(a, SkipOp.Ge, v)
      case GreaterThan(a: AttributeReference, Literal(v, _)) => mk(a, SkipOp.Gt, v)
      case GreaterThan(Literal(v, _), a: AttributeReference) => mk(a, SkipOp.Lt, v)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => mk(a, SkipOp.Ge, v)
      case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => mk(a, SkipOp.Le, v)
      case org.apache.spark.sql.catalyst.expressions.IsNull(a: AttributeReference) =>
        Seq(DataFilter(a.name, SkipOp.IsNull))
      case org.apache.spark.sql.catalyst.expressions.IsNotNull(a: AttributeReference) =>
        Seq(DataFilter(a.name, SkipOp.IsNotNull))
      case org.apache.spark.sql.catalyst.expressions.In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        val lits = vs.collect { case Literal(v, _) if v != null => value(v) }
        Seq(DataFilter(a.name, SkipOp.In, lits))
      case org.apache.spark.sql.catalyst.expressions.InSet(a: AttributeReference, vs) =>
        Seq(DataFilter(a.name, SkipOp.In, vs.toSeq.filter(_ != null).map(value)))
      case And(l, r) => toSkipFilters(l) ++ toSkipFilters(r)
      case _ => Nil
    }
  }

  /** Conservative file matcher for a transaction's read predicate
    * ([[graft.log.TxnProfile.mayRead]]): `false` only when [[pruner]]
    * proves that `condition`, resolved against the snapshot schema,
    * matches nothing in the file — the same answer the scan's index
    * gives. An unresolvable condition yields an always-`true` matcher:
    * every concurrent append then conflicts, which is the safe default.
    */
  def matcherFor(
      spark: SparkSession,
      snap: graft.log.Snapshot,
      condition: Column): AddFile => Boolean = {
    val cond =
      try Seq(PartitionPredicate.analyze(spark, snap.schema, condition))
      catch {
        case scala.util.control.NonFatal(_) => Nil // unresolvable → conservative
      }
    fileMatcher(snap, spark.sessionState.conf.sessionLocalTimeZone, cond)
  }

  private def micros(ts: Timestamp): BigDecimal =
    BigDecimal(ts.getTime / 1000L) * 1000000L +
      BigDecimal(ts.getNanos) / 1000

  /** Numeric rank for exact cross-type comparison; None for strings. */
  private def num(v: Any): Option[BigDecimal] = v match {
    case i: Int        => Some(BigDecimal(i))
    case l: Long       => Some(BigDecimal(l))
    case d: Double     => Some(BigDecimal(d))
    case f: Float      => Some(BigDecimal(f.toDouble))
    case t: Timestamp  => Some(micros(t))
    case _             => None
  }

  private def parseStat(s: String, dt: DataType): Option[Any] = dt match {
    case IntegerType | LongType => Some(s.toLong)
    case DoubleType | FloatType => Some(s.toDouble)
    case TimestampType | TimestampNTZType => Some(s.toLong) // stored micros
    case StringType => Some(s)
    case _ => None
  }

  /** True unless the file's footer stats PROVE it cannot match the
    * filter: the data column's [min, max] interval and null count.
    * Missing/unusable information always keeps the file — the residual
    * filter guarantees correctness either way.
    */
  def mayMatch(file: AddFile, schema: StructType, f: DataFilter): Boolean = {
    val statOpt = file.stats.get(f.column)
    val dtOpt = schema.find(_.name == f.column).map(_.dataType)
    (statOpt, dtOpt) match {
      case (Some(st), Some(dt)) =>
        f.op match {
          case SkipOp.IsNull =>
            // a file with a KNOWN zero null count cannot match; a negative
            // count means the footer never recorded one (foreign writer,
            // stats-truncated file) — may match
            st.nullCount != 0
          case SkipOp.IsNotNull =>
            // an all-null file (known count) cannot match
            file.numRecords <= 0 || st.nullCount < 0 ||
              st.nullCount < file.numRecords
          case _ =>
            val (minV, maxV) = (
              st.min.flatMap(parseStat(_, dt)),
              st.max.flatMap(parseStat(_, dt)))
            if (minV.isEmpty || maxV.isEmpty) return true
            // timestamp filter values arrive as Timestamp; stats as micros
            def cmpNum(a: Any, b: Any): Option[Int] =
              for { x <- num(a); y <- num(b) } yield x.compare(y)
            // strings: parquet footer min/max are ordered by unsigned
            // UTF-8 bytes (Spark's UTF8String order), which disagrees with
            // java.lang.String UTF-16 order once supplementary characters
            // (emoji) mix with U+E000..U+FFFF — compare in byte order
            def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
              case (x: String, y: String) =>
                Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
                  .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
              case _ => cmpNum(a, b)
            }
            def inRange(v: Any): Boolean =
              (for {
                cMin <- cmp(minV.get, v)
                cMax <- cmp(maxV.get, v)
              } yield cMin <= 0 && cMax >= 0).getOrElse(true)
            f.op match {
              case SkipOp.In => f.value match {
                case vs: Seq[_] => vs.isEmpty || vs.exists(inRange)
                case _ => true
              }
              case _ =>
                val fv = f.value
                (for {
                  cMin <- cmp(minV.get, fv) // min ? value
                  cMax <- cmp(maxV.get, fv) // max ? value
                } yield f.op match {
                  case SkipOp.Eq => cMin <= 0 && cMax >= 0
                  case SkipOp.Lt => cMin < 0
                  case SkipOp.Le => cMin <= 0
                  case SkipOp.Gt => cMax > 0
                  case SkipOp.Ge => cMax >= 0
                  case _ => true
                }).getOrElse(true)
            }
        }
      case _ => true
    }
  }
}
