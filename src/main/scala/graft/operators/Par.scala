package graft.operators

import java.util.concurrent.{ExecutionException, SynchronousQueue, ThreadPoolExecutor, TimeUnit}

import scala.util.Try

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Plan-shaping helpers shared by the library: scan widening and the one
  * eager materialization point.
  *
  * Materialization policy: every intermediate the library cuts out of a
  * plan goes through [[materialize]], which is an eager local checkpoint
  * (`localCheckpoint(true)`). Spark has no common-subexpression
  * materialization, so a frame that several branches consume would
  * otherwise re-run its whole upstream pipeline per branch. Independent
  * frames passed together run as overlapped jobs, and every overlapped job
  * keeps the caller's thread-locals — job group, job description, active
  * session — so cancelling the caller's group cancels all of them.
  */
object Par {

  /** Eagerly local-checkpoints each frame and returns the checkpoints in
    * argument order. One frame runs on the calling thread. With more, all
    * but the last run on [[pool]] through `SQLExecution.withThreadLocalCaptured`
    * (the caller's local properties, active session and artifact state are
    * copied into the pool thread) and the last runs on the calling thread,
    * so the call costs the slowest leg rather than the sum. The call returns
    * only after every leg has finished; a failing leg rethrows its original
    * exception, the first failure in argument order winning.
    */
  def materialize(frames: DataFrame*): Seq[DataFrame] = {
    val overlapped = frames.dropRight(1).map { df =>
      SQLExecution.withThreadLocalCaptured(
        df.sparkSession.asInstanceOf[classic.SparkSession], pool)(df.localCheckpoint(true))
    }
    val last = frames.lastOption.map(df => Try(df.localCheckpoint(true)))
    val legs = overlapped.map { f =>
      Try(try f.get() catch { case e: ExecutionException => throw e.getCause })
    } ++ last
    legs.map(_.get)
  }

  /** Eagerly local-checkpoints an RDD on the calling thread and returns its
    * row count: the [[materialize]] of library passes that run on plain
    * RDDs, which have no generated classes to compile.
    */
  def materializeRdd(rdd: RDD[_]): Long = {
    rdd.localCheckpoint()
    rdd.count()
  }

  /** The Catalyst rows of `df`, planned as one SQL execution: its shuffle
    * stages run now, under the caller's job group, and the returned RDD
    * runs the final stage. Unlike `Dataset.rdd` there is no conversion to
    * external rows, so no generated class beyond the plan's own. Rows may
    * be reused buffers: read or copy each before the next.
    */
  def rows(df: DataFrame): RDD[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("rows"))(qe.toRdd)
  }

  /** JVM-wide daemon pool for the overlapped legs of [[materialize]]. It
    * grows to the number of legs in flight, so a call never runs fewer legs
    * at once than it was given, and idle threads exit after a minute.
    */
  private[graft] val pool = new ThreadPoolExecutor(0, Int.MaxValue, 60L, TimeUnit.SECONDS,
    new SynchronousQueue[Runnable], { (r: Runnable) =>
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    })

  /** Input-skew mitigation (optimization guide §2.5 "one huge unsplittable
    * file"): parquet cannot split below row-group granularity, so a
    * single-row-group input file caps every scan-rooted map stage at ONE
    * task — explode/shingle/hash-heavy pipelines serialize on one core no
    * matter how wide the session is (measured: single 2-4 s one-task scan
    * stages under a13_heavy_hitters, the n-gram family, and the substring
    * dedup family at local[32]).
    *
    * When the incoming frame has fewer partitions than the session's
    * parallelism, repartition round-robin BEFORE the heavy map work; a
    * well-partitioned input (many files / many row groups — the 100 TB
    * case) passes through untouched, so no production plan pays an extra
    * exchange. Round-robin keeps Spark's sort-before-repartition
    * determinism guarantee for retried tasks.
    *
    * The partition probe runs ONLY on narrow scan-rooted chains, whose
    * width is the sum of their leaf scans' partitions; it reads those from
    * the physical plan's leaves and executes nothing. (`df.rdd` would run
    * the plan's whole-stage codegen on the driver, one compiled class per
    * new scan chain, and on an AQE plan it would materialize every exchange
    * stage — measured: the double widen inside heavyHitters re-ran the token
    * explode per probe, a13_heavy_hitters cold 3 s -> 14 s.) Shuffle-derived
    * frames pass through untouched: their width is the shuffle partition
    * count (or AQE's size-targeted coalesce of it), which is the engine's
    * scale-adaptive setting, not a one-task file artifact.
    */
  def widen(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (!narrowChain(df.queryExecution.logical)) df
    else if (scanPartitions(df.queryExecution.sparkPlan, par) < par) df.repartition(par) else df
  }

  /** Partitions of a narrow chain: those of its leaves, which a union
    * concatenates. File and v2 scans plan their splits without running
    * anything; a local relation spreads over at most the default
    * parallelism; other leaves (checkpoints, ranges) build their RDD.
    */
  private def scanPartitions(plan: SparkPlan, par: Int): Int = plan.collectLeaves().map {
    case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    case s: BatchScanExec => s.inputRDD.getNumPartitions
    case l: LocalTableScanExec =>
      math.min(math.max(l.rows.size, 1), par)
    case leaf => leaf.execute().getNumPartitions
  }.sum

  /** True when every node of `plan` preserves its child's partitioning —
    * projections, filters, generators, unions, sample, local relations and
    * leaf scans (incl. checkpointed [[org.apache.spark.sql.execution.LogicalRDD]]
    * frames, matched structurally as leaves). Any other node (join,
    * aggregate, window, sort, limit, repartition, ...) may introduce an
    * exchange, whose width is the engine's to choose.
    */
  private def narrowChain(plan: LogicalPlan): Boolean = plan.find {
    case _: Project | _: Filter | _: Generate | _: Union | _: SubqueryAlias |
         _: Sample | _: TypedFilter | _: LocalRelation => false
    case _: LeafNode => false // any leaf: file scan, LogicalRDD, range
    case _ => true
  }.isEmpty
}
