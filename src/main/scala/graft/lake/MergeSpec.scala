package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, when}
import org.apache.spark.sql.types.{StructField, StructType}

/** One WHEN clause of a general SQL MERGE, with its optional AND
  * condition already resolved (by the caller's `build` function in
  * `LakeTable.mergeInto`) against concrete target/source frames.
  * Clause order is significant: the FIRST clause whose condition holds
  * acts, like the SQL standard's WHEN evaluation order.
  */
sealed trait MergeClause { def condition: Option[Column] }

object MergeClause {
  /** WHEN MATCHED [AND cond] THEN UPDATE SET … — assignments by target
    * column name; unassigned columns keep their current value.
    */
  final case class Update(condition: Option[Column], assignments: Map[String, Column])
      extends MergeClause

  /** WHEN MATCHED [AND cond] THEN DELETE (also WHEN NOT MATCHED BY
    * SOURCE … DELETE).
    */
  final case class Delete(condition: Option[Column]) extends MergeClause

  /** WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (…) —
    * unassigned columns insert NULL.
    */
  final case class Insert(condition: Option[Column], assignments: Map[String, Column])
      extends MergeClause
}

/** A fully-resolved MERGE statement body. `matched` and
  * `notMatchedBySource` may hold Update/Delete clauses; `notMatched`
  * holds Inserts.
  *
  * The clause compiler below is the one evaluation of SQL's "first
  * WHEN clause whose condition holds acts" rule, run once per MERGE
  * by the first pass [[LakeTable.mergeInto]] shares across both
  * storage modes: [[joinSource]] pairs probe rows with source rows,
  * [[withClauseIndex]] numbers the acting clause, [[applyClauses]]
  * applies it to the claimed rows and [[insertRows]] builds the NOT
  * MATCHED inserts. The modes differ only in how the claimed rows
  * leave their files (a DV, or a rewrite of those files).
  */
final case class MergeSpec(
    condition: Column,
    matched: Seq[MergeClause],
    notMatched: Seq[MergeClause.Insert],
    notMatchedBySource: Seq[MergeClause]) {
  import MergeSpec._

  /** Clause counts for the commitInfo. */
  private[lake] def clauseCounts: Map[String, String] =
    Map("matchedClauses" -> matched.size.toString,
      "notMatchedClauses" -> notMatched.size.toString,
      "notMatchedBySourceClauses" -> notMatchedBySource.size.toString)

  /** `target` joined to `source`, flagged [[SourcePresent]] where a
    * source row matched: an outer join of kind `how` (left or full)
    * when a MATCHED clause exists. With no MATCHED clause it is a
    * semi/anti split instead: each target row once, flagged by whether
    * any source row matches — an outer join would fan a target row out
    * once per matching source row and, with no matched clause to claim
    * it, keep every copy.
    */
  private[lake] def joinSource(
      target: DataFrame, source: DataFrame, how: String, broadcastSource: Boolean): DataFrame =
    if (matched.isEmpty)
      target.join(source, condition, "left_semi").withColumn(SourceFlag, lit(true))
        .unionByName(target.join(source, condition, "left_anti")
          .withColumn(SourceFlag, lit(false)))
    else {
      val flagged = source.withColumn(SourceFlag, lit(true))
      target.join(if (broadcastSource) broadcast(flagged) else flagged, condition, how)
    }

  /** `joined` plus [[ClauseIndex]]: the position of the first MATCHED
    * or NOT MATCHED BY SOURCE clause (in that order) whose condition
    * holds, -1 when none acts. `targetPresent` keeps rows without a
    * target row (a full outer join's unmatched source rows) out of
    * every clause: `lit(true)` when every row has one.
    */
  private[lake] def withClauseIndex(joined: DataFrame, targetPresent: Column): DataFrame =
    joined.withColumn(ClauseIdx, firstHolding(
      matched.map(c => targetPresent && SourcePresent && c.condition.getOrElse(lit(true))) ++
        notMatchedBySource.map(c =>
          targetPresent && !SourcePresent && c.condition.getOrElse(lit(true)))))

  /** Rows of `indexed` (see [[withClauseIndex]]) after their clause
    * acts, projected onto `schema`: DELETE drops the row, UPDATE
    * replaces its assigned columns, rows no clause claims pass
    * unchanged. Unassigned columns resolve against `target` by exact
    * name (column mapping allows dotted names).
    */
  private[lake] def applyClauses(
      indexed: DataFrame, target: DataFrame, schema: StructType): DataFrame = {
    val clauses = (matched ++ notMatchedBySource).zipWithIndex
    val deletes = clauses.collect { case (_: MergeClause.Delete, i) => Integer.valueOf(i) }
    val kept = if (deletes.isEmpty) indexed else indexed.where(!ClauseIndex.isin(deletes: _*))
    val updates = clauses.collect { case (u: MergeClause.Update, i) => (i, u.assignments) }
    kept.select(schema.fields.toSeq.map(f =>
      assigned(ClauseIndex, updates, f, target(s"`${f.name.replace("`", "``")}`"))): _*)
  }

  /** NOT MATCHED inserts: every `unmatched` source row some INSERT
    * clause admits, projected onto `schema` by the first such clause;
    * unassigned columns insert NULL.
    */
  private[lake] def insertRows(unmatched: DataFrame, schema: StructType): DataFrame = {
    val inserts = notMatched.zipWithIndex.map { case (c, i) => (i, c.assignments) }
    unmatched.withColumn(InsertIdx, firstHolding(notMatched.map(_.condition.getOrElse(lit(true)))))
      .where(col(InsertIdx) >= 0)
      .select(schema.fields.toSeq.map(f =>
        assigned(col(InsertIdx), inserts, f, lit(null).cast(f.dataType))): _*)
  }
}

object MergeSpec {
  private val SourceFlag = "__graft_s"
  private val ClauseIdx = "__graft_idx"
  private val InsertIdx = "__graft_ins"

  /** True on rows of [[MergeSpec.joinSource]] that a source row matched. */
  private[lake] val SourcePresent: Column = coalesce(col(SourceFlag), lit(false))

  /** The acting clause of [[MergeSpec.withClauseIndex]], -1 for none. */
  private[lake] val ClauseIndex: Column = col(ClauseIdx)

  private def firstHolding(guards: Seq[Column]): Column =
    guards.zipWithIndex.foldRight(lit(-1)) { case ((g, i), acc) => when(g, lit(i)).otherwise(acc) }

  /** Column `f`: the value the row's clause (`idx`) assigns, `base`
    * where that clause assigns none.
    */
  private def assigned(
      idx: Column, clauses: Seq[(Int, Map[String, Column])], f: StructField,
      base: Column): Column =
    clauses.foldRight(base) { case ((i, assigns), acc) =>
      assigns.get(f.name).fold(acc)(v => when(idx === i, v).otherwise(acc))
    }.cast(f.dataType).as(f.name)
}
