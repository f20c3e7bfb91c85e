package graft.catalog

import org.apache.spark.sql.{AnalysisException, Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, EqualTo, ExprId, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.command.{ExecutedCommandExec, LeafRunnableCommand}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.PlanGlue

import graft.storage.{Dml, SnapshotStore}
import graft.storage.SnapshotMergeInto.{DeleteRow, UpdateAll, UpdateSet, WhenMatched, WhenNotMatched, WhenNotMatchedBySource}

/** Plans catalog `MERGE INTO`, `UPDATE` and `DELETE FROM` over a
  * [[GraftTable]] as ONE leaf command that calls the store's own verb —
  * [[SnapshotStore.mergeInto]] or [[SnapshotStore.dml]] — so a catalog
  * statement has the semantics and the plan of the TVF verb
  * (`graft_merge_into` / `graft_delete_where` / `graft_update_where`).
  * Every resolved attribute maps by exprId to the verb's names: a MERGE
  * target column to `t.c`, a source column to `s.c`; an UPDATE or DELETE
  * column to its bare name.
  *
  * A MERGE inherits the verb's contract:
  *   - the ON clause is a conjunction of `t.c = s.c` equalities over
  *     same-named columns (they become the merge keys);
  *   - key matching is PARTITION-CONFINED: a source row is matched only
  *     against target rows of the partitions the source's rows name, so a
  *     source row whose key lives in another partition inserts;
  *   - at most one WHEN NOT MATCHED clause; matched and insert clauses
  *     need the partition column(s) on the source; no MERGE clause SETs a
  *     partition column (an UPDATE may: it moves the rows).
  * A shape outside that contract raises an `AnalysisException` naming it;
  * so does every refusal of the verb itself, with the verb's message.
  * Source columns the target lacks are dropped when no clause reads them.
  * After the verb commits, every cached plan over the table is rebuilt,
  * as Spark's own v2 write commands do.
  *
  * Installed by [[GraftCatalog.initialize]] through the session's extra
  * strategies: a session that only configures the catalog (no
  * `spark.sql.extensions`) plans these statements too. The table does not
  * implement Spark's row-level operation interface, so its analyzer
  * leaves the three logical commands unrewritten for this strategy.
  */
private[graft] object GraftDmlStrategy extends SparkStrategy
    with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = (plan match {
    case m: MergeIntoTable =>
      relationOf(m.targetTable).map(r => StoreVerb("MERGE", r, merge(m)))
    case u: UpdateTable =>
      relationOf(u.table).map(r => StoreVerb("UPDATE", r, update(u)))
    case d: DeleteFromTable =>
      relationOf(d.table).map(r => StoreVerb("DELETE", r, delete(d)))
    case _ => None
  }).map(ExecutedCommandExec(_)).toSeq

  /** The optimizer has already turned the target relation into a scan
    * relation (its scan is built, never run).
    */
  private def relationOf(p: LogicalPlan): Option[DataSourceV2Relation] =
    p match {
      case s: DataSourceV2ScanRelation
          if s.relation.table.isInstanceOf[GraftTable] => Some(s.relation)
      case _ => None
    }

  /** The store verb as the statement's one command. The statement is
    * translated when it runs, so a refusal — this translation's or the
    * verb's, both `IllegalArgumentException`s — fails the run, not
    * planning, as one `AnalysisException`.
    */
  private case class StoreVerb(statement: String,
      relation: DataSourceV2Relation,
      body: (GraftTable, SparkSession) => Unit) extends LeafRunnableCommand {
    private def t = relation.table.asInstanceOf[GraftTable]
    override protected def stringArgs: Iterator[Any] =
      Iterator(statement, t.name())
    override def run(spark: SparkSession): Seq[Row] = {
      try body(t, spark)
      catch {
        case e: IllegalArgumentException =>
          throw new AnalysisException("_LEGACY_ERROR_TEMP_0035",
            Map("message" -> s"$statement ${t.name()}: ${e.getMessage}"),
            Some(e))
      }
      PlanGlue.recache(spark, relation.catalog.map(_.name()).toSeq ++
        relation.identifier.toSeq.flatMap(i => i.namespace().toSeq :+
          i.name()))
      Nil
    }
  }

  private def refuse(shape: String): Nothing =
    throw new IllegalArgumentException(s"$shape is not supported")

  /** `e` as a `Column` over the verb's names (`names` by exprId). */
  private def column(names: Map[ExprId, Seq[String]])(
      e: Expression): Column = {
    if (SubqueryExpression.hasSubquery(e))
      refuse(s"a subquery in a DML condition or value (${e.sql})")
    PlanGlue.column(e.transform {
      case a: AttributeReference => names.get(a.exprId)
        .map(UnresolvedAttribute(_))
        .getOrElse(refuse(s"a reference outside the target and " +
          s"source (${a.sql})"))
    })
  }

  private def strip(e: Expression): Expression = e match {
    case c: Cast => strip(c.child)
    case _ => e
  }

  /** (column name, value) per assignment; a nested-field SET has no
    * verb.
    */
  private def assignments(as: Seq[Assignment],
      value: Expression => Column): Seq[(String, Column)] =
    as.map { a => a.key match {
      case k: Attribute => k.name -> value(a.value)
      case _ => refuse(s"a nested-field SET (${a.key.sql})")
    }}

  /** An UPDATE or DELETE expression over the table's bare names. */
  private def bare(table: LogicalPlan): Expression => Column =
    column(table.output.map(a => a.exprId -> Seq(a.name)).toMap)

  private def update(u: UpdateTable)(t: GraftTable,
      spark: SparkSession): Unit = {
    val value = bare(u.table)
    SnapshotStore.dml(spark, t.path,
      Dml.Update(assignments(u.assignments, value)),
      u.condition.map(value).getOrElse(lit(true)))
  }

  private def delete(d: DeleteFromTable)(t: GraftTable,
      spark: SparkSession): Unit =
    SnapshotStore.dml(spark, t.path, Dml.Delete, bare(d.table)(d.condition))

  private def merge(m: MergeIntoTable)(t: GraftTable,
      spark: SparkSession): Unit = {
    if (m.withSchemaEvolution) refuse("MERGE WITH SCHEMA EVOLUTION")
    val target = m.targetTable.output
    val source = m.sourceTable.output
    val srcNames = source.map(_.name)
    val tIds = target.map(_.exprId).toSet
    val sIds = source.map(_.exprId).toSet
    val value = column((target.map(a => a.exprId -> Seq("t", a.name)) ++
      source.map(a => a.exprId -> Seq("s", a.name))).toMap) _
    val keys = splitConjunctivePredicates(m.mergeCondition).map {
      case EqualTo(l, r) => (strip(l), strip(r)) match {
        case (a: Attribute, b: Attribute) if a.name == b.name &&
            ((tIds(a.exprId) && sIds(b.exprId)) ||
              (sIds(a.exprId) && tIds(b.exprId))) => a.name
        case _ => refuseOn(m)
      }
      case _ => refuseOn(m)
    }.distinct
    def set(as: Seq[Assignment]) = UpdateSet(assignments(as, value))
    val matched = m.matchedActions.map {
      case DeleteAction(c) => WhenMatched(c.map(value), DeleteRow)
      case UpdateAction(c, _, true) => WhenMatched(c.map(value), UpdateAll)
      case UpdateAction(c, as, false) => WhenMatched(c.map(value), set(as))
      case a => refuse(s"the WHEN MATCHED action $a")
    }
    if (m.notMatchedActions.size > 1)
      refuse("MERGE with more than one WHEN NOT MATCHED clause")
    val notMatched = m.notMatchedActions.map {
      case InsertAction(c, as) =>
        val list = assignments(as, value)
        // INSERT * — each target column the source has, from its
        // same-named source column — is the verb's insert-all
        val all = as.size == target.count(a => srcNames.contains(a.name)) &&
          as.forall(a => (a.key, strip(a.value)) match {
            case (k: Attribute, v: Attribute) =>
              sIds(v.exprId) && v.name == k.name
            case _ => false
          })
        WhenNotMatched(c.map(value), if (all) Nil else list)
      case a => refuse(s"the WHEN NOT MATCHED action $a")
    }.headOption
    val notMatchedBySource = m.notMatchedBySourceActions.map {
      case DeleteAction(c) => WhenNotMatchedBySource(c.map(value), DeleteRow)
      case UpdateAction(c, as, _) =>
        WhenNotMatchedBySource(c.map(value), set(as))
      case a => refuse(s"the WHEN NOT MATCHED BY SOURCE action $a")
    }
    // source columns the target lacks: dropped, unless a clause reads one
    val targetNames = target.map(_.name).toSet
    source.filter(a => !targetNames(a.name) && m.references.contains(a))
      .foreach(a => refuse(s"MERGE reading source column '${a.name}', " +
        "which the target lacks"))
    val src = PlanGlue.ofRows(spark, m.sourceTable)
    SnapshotStore.mergeInto(spark, t.path,
      src.select(srcNames.filter(targetNames).map(src.col): _*), keys,
      matched, notMatched, notMatchedBySource)
  }

  private def refuseOn(m: MergeIntoTable): Nothing =
    refuse(s"MERGE whose ON clause is not a conjunction of " +
      s"t.c = s.c equalities over same-named columns " +
      s"(${m.mergeCondition.sql})")
}
