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

/** A simple `column op literal` filter usable for file pruning. Value
  * types: Int/Long/Double/String/java.sql.Timestamp (Seq thereof for In;
  * ignored for IsNull/IsNotNull).
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

private[graft] object DataSkipping {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
  import org.apache.spark.unsafe.types.UTF8String

  /** Catalyst comparison filters → data-skipping shapes (conservative:
    * anything unrecognized skips nothing). Shared by the scan-side file
    * index ([[graft.sources.GraftFileIndex]]) and the conflict checker's
    * predicate matcher ([[matcherFor]]) so the two can never disagree on
    * what a predicate proves about a file.
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
    * ([[graft.log.TxnProfile.mayRead]]): `false` only when the file's
    * partition values / footer stats PROVE `condition` matches nothing
    * in it. The condition is resolved against the snapshot schema and
    * compiled to skip filters on PHYSICAL column names (footer stats are
    * keyed physically under column mapping); a condition that compiles
    * to no usable filter yields an always-`true` matcher — every
    * concurrent append then conflicts, which is the safe default.
    */
  def matcherFor(
      spark: SparkSession,
      snap: graft.log.Snapshot,
      condition: Column): AddFile => Boolean = {
    val filters: Seq[DataFilter] =
      try {
        val m = ColumnMapping.fromSnapshot(snap)
        toSkipFilters(PartitionPredicate.analyze(spark, snap.schema, condition))
          .map(f => f.copy(column = ColumnMapping.physicalName(m, f.column)))
      } catch {
        case scala.util.control.NonFatal(_) => Nil // unresolvable → conservative
      }
    val physSchema = ColumnMapping.physicalSchema(
      snap.schema, ColumnMapping.fromSnapshot(snap))
    a => filters.forall(mayMatch(a, physSchema, _))
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

  /** True unless the file PROVABLY cannot match the filter. Partition
    * columns compare against the file's exact partition value (they are
    * not stored in the data files, so footer stats never cover them);
    * data columns compare against the footer [min, max] interval.
    * Missing/unusable information always keeps the file — the residual
    * filter guarantees correctness either way.
    */
  def mayMatch(file: AddFile, schema: StructType, f: DataFilter): Boolean =
    file.partitionValues.get(f.column) match {
      case Some(pv) =>
        partitionMayMatch(pv, schema.find(_.name == f.column).map(_.dataType), f)
      case None => statMayMatch(file, schema, f)
    }

  /** Exact single-value semantics for a partition column: every row of
    * the file carries `pv`.
    */
  private def partitionMayMatch(
      pv: String, dtOpt: Option[DataType], f: DataFilter): Boolean = {
    val isNullPv = pv == "__HIVE_DEFAULT_PARTITION__" // hive null sentinel
    f.op match {
      case SkipOp.IsNull    => isNullPv
      case SkipOp.IsNotNull => !isNullPv
      case _ if isNullPv    => false // comparisons never match null
      case _ =>
        // reuse the stat parser; values it cannot parse (e.g. timestamp
        // partition dirs render as formatted strings, not micros) keep
        // the file conservatively
        val parsed = dtOpt.flatMap(dt =>
          scala.util.Try(parseStat(pv, dt)).toOption.flatten)
        if (parsed.isEmpty) true
        else {
          def compareTo(x: Any): Option[Int] = (parsed.get, x) match {
            case (a: String, b: String) =>
              Some(org.apache.spark.unsafe.types.UTF8String.fromString(a)
                .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)))
            case (a, b) => for { p <- num(a); q <- num(b) } yield p.compare(q)
          }
          f.op match {
            case SkipOp.In => f.value match {
              case vs: Seq[_] => vs.isEmpty || vs.exists(v => compareTo(v).contains(0))
              case _          => true
            }
            case op => compareTo(f.value).map { c =>
              op match {
                case SkipOp.Eq => c == 0
                case SkipOp.Lt => c < 0
                case SkipOp.Le => c <= 0
                case SkipOp.Gt => c > 0
                case SkipOp.Ge => c >= 0
                case _         => true
              }
            }.getOrElse(true)
          }
        }
    }
  }

  private def statMayMatch(file: AddFile, schema: StructType, f: DataFilter): Boolean = {
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
