package graft.io

import java.util.Locale

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Write invariants: what every row a write commits must satisfy — a
  * replaceWhere overwrite's predicate, the table's CHECK constraints and
  * the values of generated columns a writer supplies. They are checked
  * as rows are written, inside the write's own projection (the pattern
  * of Delta's `DeltaInvariantCheckerExec`), so an invariant costs no
  * Spark execution of its own and a violating write leaves nothing
  * behind: the batch writer guards its projection with one
  * `raise_error` ([[guard]]), the DSv2 streaming writer evaluates the
  * same [[violation]] per row.
  */
object Invariants {

  private val Violated = "write invariant"
  private val OutsideReplaceWhere = "requirement failed: rows violate replaceWhere predicate"

  /** CHECK constraints by name (`graft.constraint.<name>` = SQL). */
  private[graft] def constraintsOf(props: Map[String, String]): Map[String, String] = {
    val prefix = graft.log.CommitLog.constraintKey("")
    props.collect { case (k, sql) if k.startsWith(prefix) =>
      k.stripPrefix(prefix) -> sql
    }
  }

  /** The properties that define a table's invariants: its CHECK
    * constraints and generated columns.
    */
  def definedBy(props: Map[String, String]): Map[String, String] =
    props.filter { case (k, _) =>
      k.startsWith(graft.log.CommitLog.constraintKey("")) || k.startsWith(Generated.Prefix)
    }

  /** Per-row expression naming what the row violates: NULL when it
    * satisfies every invariant, otherwise the error text. None when
    * there is nothing to check.
    *   - replaceWhere is violated where `!pred` is true (NULL passes);
    *   - a CHECK constraint where `coalesce(!expr, false)` is true;
    *   - a generated column where `!(c <=> expr)` is true, for the
    *     declared generated columns of `schema` named in `generated`
    *     (matched case-insensitively, like Spark's resolver; None =
    *     every declared one).
    * A row breaking replaceWhere reports that alone.
    */
  def violation(
      props: Map[String, String],
      schema: StructType,
      replaceWhere: Option[Column],
      generated: Option[Set[String]]): Option[Column] = {
    val ci = (s: String) => s.toLowerCase(Locale.ROOT)
    val validate = generated.getOrElse(Generated.generatedOf(props).keySet).map(ci)
    val checks: Seq[(String, Column)] =
      constraintsOf(props).toSeq.map { case (name, sql) =>
        (s"CHECK constraint $name ($sql)", coalesce(!expr(sql), lit(false)))
      } ++
        Generated.generatedOf(props).toSeq
          .filter { case (c, _) =>
            validate(ci(c)) && schema.fieldNames.exists(_.equalsIgnoreCase(c)) }
          .map { case (c, sql) =>
            (s"generated column $c != ($sql)", !(col(c) <=> expr(sql)))
          }
    val named = if (checks.isEmpty) None else Some {
      val labels = concat_ws("; ", checks.map { case (l, bad) => when(bad, lit(l)) }: _*)
      val count = checks.map { case (_, bad) => when(bad, 1).otherwise(0) }.reduce(_ + _)
      when(count === 1, concat(lit(s"$Violated violated: "), labels))
        .when(count > 1, concat(lit(s"${Violated}s violated: "), labels))
    }
    val outside = replaceWhere.map(p => when(!p, lit(s"$OutsideReplaceWhere $p")))
    (outside ++ named).reduceOption(coalesce(_, _))
  }

  /** `df` with `violation` raised as its rows are computed: one guarded
    * `raise_error` on the first column, which the write cannot prune.
    * Columns of `schema` that `df` omits read as NULL, as they do from
    * the written files.
    */
  private[graft] def guard(df: DataFrame, schema: StructType, violation: Option[Column]): DataFrame =
    violation.fold(df) { v =>
      Schemas.padTo(df, schema).select(df.columns.toSeq.zipWithIndex.map {
        case (c, 0) => when(v.isNotNull, raise_error(v)).otherwise(col(c)).as(c)
        case (c, _) => col(c)
      }: _*)
    }

  /** The invariant error a failed write raised, if any, from anywhere in
    * its cause chain.
    */
  private[graft] def violated(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collect {
      case s: SparkThrowable if s.getCondition == "USER_RAISED_EXCEPTION" =>
        s.getMessageParameters.get("errorMessage")
    }.find(m => m != null && (m.startsWith(Violated) || m.startsWith(OutsideReplaceWhere)))
}
