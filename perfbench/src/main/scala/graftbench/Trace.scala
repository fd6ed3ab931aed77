package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the library, plus Spark's own
  * counters read through listeners registered here. Nothing is recorded
  * unless `enabled`: the end-to-end runs pay one branch per call.
  *
  * A span has a name, a parent, the iteration it belongs to, and a start
  * and end. Jobs are tied to spans through the local property [[SpanKey]],
  * which a span sets on the calling thread for its duration. Everything is
  * kept in memory and written out by [[writeTo]] when the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val windows = mutable.ArrayBuffer.empty[Window]
  private var stack: List[Long] = Nil
  private var nextId = 0L
  private var iter = -1

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  private val executions = new ConcurrentLinkedQueue[java.lang.Long]()

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add(Job(e.jobId, e.time, e.stageIds,
          p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong),
          // the result stage is named after the job's call site
          e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        stages.add(Stage(i.stageId, i.numTasks,
          i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = Option(e.taskMetrics)
        tasks.add(Task(e.stageId, e.taskInfo.duration,
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
          m.map(_.inputMetrics.bytesRead).getOrElse(0L)))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.add(x.time)
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases.filter { case (k, _) => k != "parsing" }.values
        if (ph.nonEmpty) plans.add(Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    })
  }

  /** Runs `body` inside a span called `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val s0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try body
      finally {
        val n1 = System.nanoTime()
        val s1 = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, iter, s0, s1, n1 - n0)
      }
    }

  /** Marks the timed region of iteration `i`; spans opened inside carry `i`. */
  def iteration[T](i: Int)(body: => T): T =
    if (!enabled) body
    else {
      iter = i
      val c0 = CodeGenerator.compileTime
      val s0 = System.currentTimeMillis()
      try span("iteration")(body)
      finally {
        windows += Window(i, s0, System.currentTimeMillis(), CodeGenerator.compileTime - c0)
        iter = -1
      }
    }

  /** Seconds per iteration spent in spans called `name`, summed within the
    * iteration. Index = iteration number.
    */
  def spanSeconds(name: String): Seq[Double] = windows.toSeq.map { w =>
    spans.iterator.filter(s => s.iter == w.iter && s.name == name).map(_.nanos / 1e9).sum
  }

  /** Like [[spanSeconds]], split into the part Spark jobs covered and the
    * rest (driver-side work: listing, manifests, commits, planning).
    */
  def spanSplit(name: String): Seq[(Double, Double)] = windows.toSeq.map { w =>
    val ss = spans.filter(s => s.iter == w.iter && s.name == name)
    val exec = ss.map(s => covered(s.startMs, s.endMs) / 1e3).sum
    (ss.map(_.nanos / 1e9).sum - exec, exec)
  }

  /** Milliseconds of [lo, hi] during which at least one Spark job ran. Spans
    * run one at a time on the benchmark's thread, so any job inside a
    * span's interval is work that span caused.
    */
  private def covered(lo: Long, hi: Long): Long = {
    val iv = jobs.asScala.toSeq.flatMap { j =>
      Option(jobEnds.get(j.id)).map(e => (math.max(lo, j.startMs), math.min(hi, e.longValue)))
    }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (ce > cs) total += ce - cs
    total
  }

  /** Spark-level counters of each timed iteration, attributed by time:
    * a job belongs to the iteration during which it started.
    */
  def sparkCounters(parallelism: Int, inputBytes: Long): Seq[Map[String, Double]] = {
    BusDrain.drain(sc)
    val allJobs = jobs.asScala.toSeq
    val allStages = stages.asScala.toSeq
    val allTasks = tasks.asScala.toSeq.groupBy(_.stageId)
    val byId = spans.map(s => s.id -> s).toMap
    windows.toSeq.map { w =>
      def in(t: Long) = t >= w.startMs && t <= w.endMs
      val js = allJobs.filter(j => in(j.startMs))
      val stageIds = js.flatMap(_.stageIds).toSet
      val ss = allStages.filter(s => stageIds(s.id))
      val ts = ss.flatMap(s => allTasks.getOrElse(s.id, Nil))
      val skew = ss.filter(_.numTasks >= 2).flatMap { s =>
        val d = allTasks.getOrElse(s.id, Nil).map(_.durationMs).sorted
        if (d.size < 2) None else Some(d.last.toDouble / math.max(1L, d(d.size / 2)))
      }
      val orphan = js.count(j => j.span.flatMap(byId.get)
        .forall(s => j.startMs < s.startMs || j.startMs > s.endMs))
      Map(
        "plans.planning_s" -> plans.asScala.filter(p => in(p.startMs)).map(_.millis).sum / 1e3,
        "codegen.compile_s" -> w.compileNanos / 1e9,
        "exec.executions" -> executions.asScala.count(t => in(t.longValue)).toDouble,
        "exec.jobs" -> js.size.toDouble,
        "exec.stages" -> ss.size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.serial_stage_s" ->
          (if (parallelism <= 1) 0.0
           else ss.filter(_.numTasks == 1).map(s => (s.endMs - s.startMs) / 1e3).sum),
        "exec.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
        "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "exec.input_read_ratio" -> ts.map(_.bytesRead).sum.toDouble / math.max(1L, inputBytes),
        "exec.checkpoint_jobs" -> js.count(_.callSite.contains("localCheckpoint")).toDouble,
        "exec.orphan_jobs" -> orphan.toDouble)
    }
  }

  /** Spans and jobs as JSON lines, one object per line. */
  def writeTo(path: java.nio.file.Path): Unit = if (enabled) {
    val out = mutable.ArrayBuffer.empty[String]
    spans.foreach { s =>
      out += s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"ns":${s.nanos}}"""
    }
    jobs.asScala.foreach { j =>
      out += s"""{"job":${j.id},"span":${j.span.getOrElse(0L)},"start_ms":${j.startMs},""" +
        s""""end_ms":${Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(0L)},""" +
        s""""call_site":${Json.str(j.callSite)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, out.asJava)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  final case class Span(id: Long, name: String, parent: Long, iter: Int,
                        startMs: Long, endMs: Long, nanos: Long)
  final case class Window(iter: Int, startMs: Long, endMs: Long, compileNanos: Long)
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int], span: Option[Long], callSite: String)
  final case class Stage(id: Int, numTasks: Int, startMs: Long, endMs: Long)
  final case class Task(stageId: Int, durationMs: Long, shuffleWrite: Long, spill: Long, bytesRead: Long)
  final case class Plan(startMs: Long, millis: Long)
}
