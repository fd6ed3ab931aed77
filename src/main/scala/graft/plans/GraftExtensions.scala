package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.ArrayOps

/** Library entry point for `spark.sql.extensions=graft.plans.GraftExtensions`:
  * injects graft's native expressions (the [[ArrayOps.functions]] table)
  * into every session built on the context, so SQL users get `float_dot` /
  * `portable_hll` without calling a register method, plus the read TVFs
  * and the GRAFT statement parser. It adds no planner strategy and no
  * optimizer rule: storage-partitioned joins come from the catalog's keyed
  * scan ([[graft.catalog.GraftKeyedScan]]), which Spark's own planner
  * joins without an Exchange.
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
    // SQL front door for the versioned-table verbs Spark SQL cannot say
    // (OPTIMIZE / VACUUM / RESTORE ... GRAFT '<root>'); every other
    // statement delegates untouched — a pure grammar superset
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }
}
