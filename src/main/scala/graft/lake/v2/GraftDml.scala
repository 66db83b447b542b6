package graft.lake.v2

import graft.core.UserException
import graft.lake.{LakeTable, MergeClause, MergeSpec}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types.LongType

/** Analyzer rule (injected by `graft.GraftExtensions`) that routes the
  * SQL DML statements the reference generates — `MERGE INTO … WHEN
  * MATCHED THEN UPDATE … WHEN NOT MATCHED THEN INSERT …`
  * (/root/reference/src/component.py:249-258), `UPDATE`, `DELETE` —
  * into the lake's copy-on-write machinery. Vanilla Spark only
  * rewrites row-level commands for `SupportsRowLevelOperations`
  * tables; like Delta Lake's `DeltaAnalysis`, we intercept the fully
  * RESOLVED logical command on a graft table and replace it with a
  * runnable command, so Catalyst has already resolved every column
  * reference, expanded `UPDATE SET *` / `INSERT *`, and type-checked
  * the clauses before we take over.
  */
class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(GraftRel(t), condition) if d.resolved =>
      GraftDeleteCommand(t.tablePath.toString, condition)

    case u @ UpdateTable(GraftRel(t), assignments, condition) if u.resolved =>
      GraftUpdateCommand(t.tablePath.toString, assignments,
        condition.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))

    // WITH SCHEMA EVOLUTION needs no handling here: GraftTableV2
    // advertises AUTOMATIC_SCHEMA_EVOLUTION, so Spark's
    // ResolveMergeIntoSchemaEvolution has already widened the table
    // (catalog alterTable) and re-resolved the clauses against the new
    // schema by the time this rule sees the resolved MergeIntoTable.
    case m: MergeIntoTable if m.resolved && GraftRel.unapply(m.targetTable).isDefined =>
      val t = GraftRel.unapply(m.targetTable).get
      GraftMergeCommand(t.tablePath.toString, m.targetTable.output,
        m.sourceTable, m.mergeCondition,
        m.matchedActions, m.notMatchedActions, m.notMatchedBySourceActions)
  }
}

/** Extracts the graft table under the alias/relation chain of a DML
  * target.
  */
private[v2] object GraftRel {
  def unapply(plan: LogicalPlan): Option[GraftTableV2] = plan match {
    case SubqueryAlias(_, child) => unapply(child)
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTableV2 => Some(t)
      case _               => None
    }
    case _ => None
  }
}

private[v2] object GraftDml {
  /** Rebinds target-side attribute references to plain by-name lookups,
    * leaving everything else (including the merge source's resolved
    * attributes) untouched — the result resolves against whatever
    * frame the lake scans for the same table.
    */
  def byName(e: Expression, targetIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId]): Expression =
    e.transform {
      case a: AttributeReference if targetIds(a.exprId) =>
        UnresolvedAttribute.quoted(a.name)
    }

  def assignmentName(a: Assignment): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => throw UserException(
      s"graft DML supports only top-level column assignments, got ${other.sql}")
  }
}

/** SQL DELETE on a graft table → `LakeTable.delete` (copy-on-write,
  * file-pruned). Returns the deleted-row count like Spark's DSv2
  * DELETE.
  */
case class GraftDeleteCommand(path: String, condition: Expression)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("num_affected_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cond = SparkBridge.column(
      GraftDml.byName(condition, condition.references.map(_.exprId).toSet))
    Seq(Row(LakeTable.forPath(spark, path).delete(cond)))
  }
}

/** SQL UPDATE on a graft table → `LakeTable.update`. */
case class GraftUpdateCommand(
    path: String, assignments: Seq[Assignment], condition: Expression)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("num_affected_rows", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    def byName(e: Expression) =
      SparkBridge.column(GraftDml.byName(e, e.references.map(_.exprId).toSet))
    val assigns: Map[String, Column] = assignments.map { a =>
      GraftDml.assignmentName(a) -> byName(a.value)
    }.toMap
    Seq(Row(LakeTable.forPath(spark, path).update(byName(condition), assigns)))
  }
}

/** SQL MERGE INTO on a graft table → `LakeTable.mergeInto`. The
  * analyzed source plan runs as-is (exprIds intact), so clause
  * expressions referencing source columns stay bound; target-side
  * references are rebound by name onto whichever probe the engine
  * scans (the full snapshot, then its bucket-pruned subset when the ON
  * condition allows one). Both storage modes evaluate every clause
  * over that probe's one join; no rewrite frame is ever rebound.
  */
case class GraftMergeCommand(
    path: String,
    targetOutput: Seq[Attribute],
    source: LogicalPlan,
    condition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val targetIds = targetOutput.map(_.exprId).toSet
    val nameOf = targetOutput.map(a => a.exprId -> a.name).toMap
    val srcDf = SparkBridge.ofRows(spark, source)

    def rebase(e: Expression, target: DataFrame): Column = {
      val byName = target.queryExecution.analyzed.output.map(a => a.name -> a).toMap
      SparkBridge.column(e.transform {
        case a: AttributeReference if targetIds(a.exprId) =>
          byName.getOrElse(nameOf(a.exprId), throw UserException(
            s"MERGE: target column ${nameOf(a.exprId)} not found in table scan"))
      })
    }

    def clause(action: MergeAction, target: DataFrame): MergeClause = action match {
      case u: UpdateAction =>
        MergeClause.Update(u.condition.map(rebase(_, target)),
          u.assignments.map(a => GraftDml.assignmentName(a) -> rebase(a.value, target)).toMap)
      case d: DeleteAction =>
        MergeClause.Delete(d.condition.map(rebase(_, target)))
      case i: InsertAction =>
        MergeClause.Insert(i.condition.map(rebase(_, target)),
          i.assignments.map(a => GraftDml.assignmentName(a) -> rebase(a.value, target)).toMap)
      case other => throw UserException(s"Unsupported MERGE action: $other")
    }

    LakeTable.forPath(spark, path).mergeInto(srcDf) { (target, _) =>
      MergeSpec(
        rebase(condition, target),
        matchedActions.map(clause(_, target)),
        notMatchedActions.map(clause(_, target)).map {
          case i: MergeClause.Insert => i
          case other => throw UserException(
            s"MERGE: WHEN NOT MATCHED supports only INSERT, got $other")
        },
        notMatchedBySourceActions.map(clause(_, target)))
    }
    Nil
  }
}
