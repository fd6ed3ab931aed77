package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.VersionedTable

/** SQL READ front door for the versioned table — table-valued functions
  * (Delta's `table_changes(...)` idiom, Spark's `range(...)` machinery):
  *
  *   SELECT ... FROM graft_table('<root>')                   -- latest snapshot
  *   SELECT ... FROM graft_table('<root>', <version>)        -- VERSION AS OF
  *   SELECT ... FROM graft_table('<root>', TIMESTAMP '...')  -- TIMESTAMP AS OF
  *   SELECT ... FROM graft_changes('<root>', <from>, <to>, '<keyCol>')
  *
  * Each TVF resolves ONCE at analysis into the exact LogicalPlan the
  * programmatic read returns — the relation Catalyst then optimizes is the
  * same skipping-aware parquet scan (predicate pushdown, column pruning,
  * partition recovery, MOR delete application all apply), so SQL users pay
  * nothing over the Scala API. Arguments must be literals: a snapshot pin
  * is a planning-time decision, and a non-literal version would make the
  * relation's file set depend on row data.
  *
  * With [[GraftSqlParser]]'s statements (OPTIMIZE/VACUUM/DELETE/UPDATE/
  * MERGE/RESTORE GRAFT) this completes the SQL surface: every verb of the
  * table format is now reachable without touching the Scala API. A
  * storage-partitioned join reads catalog tables instead
  * (`spark.sql.catalog.<c>=graft.catalog.GraftCatalog`): their keyed scans
  * report `KeyGroupedPartitioning`, which these TVFs' plans do not.
  */
object GraftTableFunctions {
  private def strLit(e: Expression, fn: String, pos: Int): String = e match {
    case Literal(s: UTF8String, StringType) => s.toString
    case other => sys.error(s"$fn: argument $pos must be a STRING literal, got $other")
  }

  private def longLit(e: Expression, fn: String, pos: Int): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => sys.error(s"$fn: argument $pos must be an INTEGER literal, got $other")
  }

  /** `graft_table(root [, version | timestamp])` → snapshot relation. */
  def graftTable(exprs: Seq[Expression]): LogicalPlan = {
    val spark = SparkSession.active
    val root = strLit(exprs.headOption.getOrElse(
      sys.error("graft_table takes (root [, version | timestamp])")), "graft_table", 1)
    val df = exprs match {
      case Seq(_) => VersionedTable.read(spark, root)
      case Seq(_, Literal(us: Long, TimestampType)) =>
        // SQL TIMESTAMP literals carry micros; the time-travel API takes ms
        VersionedTable.readAsOfTimestamp(spark, root, Math.floorDiv(us, 1000L))
      case Seq(_, v) => VersionedTable.read(spark, root, Some(longLit(v, "graft_table", 2)))
      case _ => sys.error("graft_table takes (root [, version | timestamp])")
    }
    df.queryExecution.analyzed
  }

  /** `graft_history(root)` → the DESCRIBE HISTORY relation as a
    * table-valued function, so commit metadata JOINS like any table
    * (e.g. correlating `_commit_version` of a change feed with the
    * committing operation).
    */
  def graftHistory(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 1, "graft_history takes (root)")
    VersionedTable.describeHistory(SparkSession.active,
      strLit(exprs(0), "graft_history", 1)).queryExecution.analyzed
  }

  /** `graft_changes(root, fromVersion, toVersion, keyCol)` → the change
    * feed over (from, to], tagged `_change_type` / `_commit_version`.
    */
  def graftChanges(exprs: Seq[Expression]): LogicalPlan = {
    require(exprs.length == 4,
      "graft_changes takes (root, fromVersion, toVersion, keyCol)")
    val spark = SparkSession.active
    VersionedTable.readChangeFeed(spark,
      strLit(exprs(0), "graft_changes", 1),
      longLit(exprs(1), "graft_changes", 2),
      longLit(exprs(2), "graft_changes", 3),
      strLit(exprs(3), "graft_changes", 4)).queryExecution.analyzed
  }
}
