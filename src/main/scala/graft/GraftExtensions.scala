package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session-extension entry point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) is the one path by which the
  * engine's SQL functions, optimizer rules, DML rule and maintenance
  * parser reach a session; `SparkEntry.configure` sets it for every
  * graft entry point. The Column helpers under `graft.functions` build
  * their expressions directly and need no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(f.exprClass.getName, f.name), f.builder))
    }
    // opt-in approximate COUNT(DISTINCT) via theta sketches
    // (spark.graft.approxDistinct=true)
    e.injectOptimizerRule(_ => ApproxDistinctRewrite)
    // exact pre-aggregated ROLLUP/CUBE/GROUPING SETS (on by default;
    // spark.graft.preAggGroupingSets=false restores Expand-first)
    e.injectOptimizerRule(_ => graft.plans.PreAggGroupingSets)
    // NOTE deliberately absent: a matching rule for
    // COUNT(DISTINCT)+co-aggregates was built and then DELETED in r7 —
    // physical planning already evaluates the one-distinct case as
    // partial-on-(keys, d) -> merge -> distinct phases with no Expand
    // and no row replication (verified on the executed plan), so the
    // rewrite was redundant; the multi-distinct Expand it cannot avoid
    // without changing semantics.
    // SQL MERGE/UPDATE/DELETE on graft catalog tables → lake
    // copy-on-write commands (the reference's generated DML,
    // component.py:228-258)
    e.injectResolutionRule(session => new graft.lake.v2.GraftDmlRule(session))
    // lake maintenance SQL: OPTIMIZE [ZORDER BY] / VACUUM /
    // DESCRIBE HISTORY / RESTORE TABLE … TO VERSION AS OF
    e.injectParser((_, parser) => new graft.lake.v2.GraftSqlParser(parser))
    // incremental CDC reads from SQL:
    // SELECT … FROM graft_table_changes('<table>', since[, to])
    e.injectTableFunction((
      FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(graft.lake.v2.GraftTableChanges.getClass.getName,
        "graft_table_changes"),
      graft.lake.v2.GraftTableChanges.builder))
  }
}

object GraftExtensions {
  /** Every graft SQL function, one table. */
  private[graft] val functions: Seq[SqlFunction] = Seq(
    VectorFunctions.sqlFunctions, TopKFunctions.sqlFunctions, KllFunctions.sqlFunctions,
    FreqFunctions.sqlFunctions, SketchFunctions.sqlFunctions,
    TextKernelFunctions.sqlFunctions, JsonKernelFunctions.sqlFunctions,
    GramHashFunctions.sqlFunctions, GramMd5Functions.sqlFunctions,
    SetKernelFunctions.sqlFunctions, DecimalFunctions.sqlFunctions).flatten
}
