package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.ArrayOps

/** Library entry point for `spark.sql.extensions=graft.plans.GraftExtensions`:
  * injects graft's native expressions (the [[ArrayOps.functions]] table)
  * into every session built on the context, so SQL users get `float_dot` /
  * `portable_hll` without calling a register method.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ArrayOps.functions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(ArrayOps.getClass.getName, name), build))
    }
    // SQL READ front door: snapshot / time-travel / change-feed relations
    // as table-valued functions — `FROM graft_table('<root>' [, v|ts])`,
    // `FROM graft_changes('<root>', from, to, '<key>')`. Resolves at
    // analysis to the exact plan the Scala read returns, so pushdown,
    // pruning, and MOR delete application all still apply.
    ext.injectTableFunction((
      FunctionIdentifier("graft_table"),
      new ExpressionInfo(GraftTableFunctions.getClass.getName, "graft_table"),
      (exprs: Seq[Expression]) => GraftTableFunctions.graftTable(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_changes"),
      new ExpressionInfo(GraftTableFunctions.getClass.getName, "graft_changes"),
      (exprs: Seq[Expression]) => GraftTableFunctions.graftChanges(exprs)))
    ext.injectTableFunction((
      FunctionIdentifier("graft_history"),
      new ExpressionInfo(GraftTableFunctions.getClass.getName, "graft_history"),
      (exprs: Seq[Expression]) => GraftTableFunctions.graftHistory(exprs)))
    // storage-partitioned join: graft_copart('<root>', '<key>', n) scans
    // declare HashPartitioning(key, n) truthfully (hive layout = the
    // clustering), so joins of two plan with zero Exchange — the Iceberg
    // SPJ idea via the planner-strategy extension point
    ext.injectTableFunction((
      FunctionIdentifier("graft_copart"),
      new ExpressionInfo(GraftTableFunctions.getClass.getName, "graft_copart"),
      (exprs: Seq[Expression]) => GraftTableFunctions.graftCopart(exprs)))
    ext.injectPlannerStrategy(_ => GraftCoPartitionStrategy)
    ext.injectOptimizerRule(_ => GraftCoPartitionPruning)
    // SQL front door for the versioned table's maintenance verbs
    // (DESCRIBE HISTORY / OPTIMIZE / VACUUM ... GRAFT '<root>'); every
    // other statement delegates untouched — a pure grammar superset
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}
