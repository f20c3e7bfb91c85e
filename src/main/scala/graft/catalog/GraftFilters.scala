package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._

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
