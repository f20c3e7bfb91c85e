package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.connector.expressions.{Expression, GeneralScalarExpression, Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{AlwaysFalse, AlwaysTrue, And => V2And, Not => V2Not, Or => V2Or, Predicate}
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** DSv1 `Filter` → `Column` for pruning-only pushdown: the catalog
  * table's scan and the `graft-snapshot` format's relation. None =
  * inconvertible (the filter simply doesn't prune — Spark re-evaluates
  * everything post-scan, so exactness never depends on this). `And`
  * converts both sides or neither: keeping one conjunct widens the
  * `And`, which is sound on its own, but under a `Not` the result
  * narrows and prunes rows the filter keeps.
  */
private[graft] object V1FilterConv {

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => litOf(v).map(col(a) === _)
    case EqualNullSafe(a, v) => litOf(v).map(col(a) <=> _)
    case GreaterThan(a, v) => litOf(v).map(col(a) > _)
    case GreaterThanOrEqual(a, v) => litOf(v).map(col(a) >= _)
    case LessThan(a, v) => litOf(v).map(col(a) < _)
    case LessThanOrEqual(a, v) => litOf(v).map(col(a) <= _)
    case In(a, vs) =>
      val ls = vs.toSeq.map(litOf)
      if (ls.forall(_.isDefined)) Some(col(a).isin(ls.flatten: _*))
      else None
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case StringEndsWith(a, p) => Some(col(a).endsWith(p))
    case StringContains(a, p) => Some(col(a).contains(p))
    case And(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(c) => toColumn(c).map(not)
    case _ => None
  }

  /** v1 filter values are already EXTERNAL Scala values. */
  private def litOf(v: Any): Option[Column] = v match {
    case null => None // comparisons against NULL match nothing; don't prune
    case _: String | _: java.lang.Boolean | _: java.lang.Byte |
         _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long |
         _: java.lang.Float | _: java.lang.Double |
         _: java.math.BigDecimal | _: java.sql.Date | _: java.sql.Timestamp |
         _: java.time.LocalDate | _: java.time.Instant |
         _: java.time.LocalDateTime => Some(lit(v))
    case _ => None
  }
}

/** DSv2 `Predicate` → `Column` for `SupportsDeleteV2`: here conversion
  * IS load-bearing (the delete executes exactly the converted
  * predicate), so only shapes with a provably-equivalent Column form
  * convert; anything else returns None and the statement falls back to
  * the row-level rewrite.
  */
private[catalog] object V2PredicateConv {

  def toColumn(p: Predicate): Option[Column] = p match {
    case _: AlwaysTrue => Some(lit(true))
    case _: AlwaysFalse => Some(lit(false))
    case a: V2And =>
      for (l <- toColumn(a.left()); r <- toColumn(a.right())) yield l && r
    case o: V2Or =>
      for (l <- toColumn(o.left()); r <- toColumn(o.right())) yield l || r
    case n: V2Not => toColumn(n.child()).map(not)
    case g: GeneralScalarExpression => scalar(g)
    case _ => None
  }

  private def scalar(g: GeneralScalarExpression): Option[Column] = {
    val ch = g.children()
    def bin(f: (Column, Column) => Column): Option[Column] =
      if (ch.length != 2) None
      else for (l <- operand(ch(0)); r <- operand(ch(1))) yield f(l, r)
    g.name() match {
      case "=" => bin(_ === _)
      case "<=>" => bin(_ <=> _)
      case "<" => bin(_ < _)
      case "<=" => bin(_ <= _)
      case ">" => bin(_ > _)
      case ">=" => bin(_ >= _)
      case "<>" => bin(_ =!= _)
      case "AND" => bin(_ && _)
      case "OR" => bin(_ || _)
      case "NOT" if ch.length == 1 => operand(ch(0)).map(not)
      case "IN" if ch.length >= 2 =>
        val tgt = operand(ch(0))
        val vals = ch.drop(1).toSeq.map(operand)
        if (tgt.isDefined && vals.forall(_.isDefined))
          Some(tgt.get.isin(vals.flatten: _*))
        else None
      case "IS_NULL" if ch.length == 1 => operand(ch(0)).map(_.isNull)
      case "IS_NOT_NULL" if ch.length == 1 => operand(ch(0)).map(_.isNotNull)
      case "STARTS_WITH" => bin((a, b) => a.startsWith(b))
      case "ENDS_WITH" => bin((a, b) => a.endsWith(b))
      case "CONTAINS" => bin((a, b) => a.contains(b))
      case _ => None
    }
  }

  private def operand(e: Expression): Option[Column] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(col(r.fieldNames.head))
    case l: V2Literal[_] => external(l)
    case p: Predicate => toColumn(p)
    case _ => None
  }

  /** v2 literals carry CATALYST-internal values — convert the exactly
    * representable domains, refuse the rest (fall back to the rewrite).
    */
  private def external(l: V2Literal[_]): Option[Column] = {
    val v = l.value()
    if (v == null) return None
    l.dataType() match {
      case StringType => Some(lit(v.toString))
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType => Some(lit(v))
      case DateType => v match {
        case d: java.lang.Integer =>
          Some(lit(java.time.LocalDate.ofEpochDay(d.longValue())))
        case _ => None
      }
      case TimestampType => v match {
        case t: java.lang.Long =>
          Some(lit(java.time.Instant.EPOCH.plus(t.longValue(),
            java.time.temporal.ChronoUnit.MICROS)))
        case _ => None
      }
      case _: DecimalType => v match {
        case d: org.apache.spark.sql.types.Decimal =>
          Some(lit(d.toJavaBigDecimal))
        case _ => None
      }
      case _ => None
    }
  }
}
