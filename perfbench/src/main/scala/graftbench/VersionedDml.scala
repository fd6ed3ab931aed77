package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.io.VersionedTable

/** `versioned_dml`: a fixed script of writes and reads replayed on one
  * `VersionedTable`, from an empty root on every round. Batch contents are
  * seeded; the op sequence and batch sizes are not.
  */
final class VersionedDml(spark: SparkSession, tracer: Tracer, seed: Long, runDir: File) extends Workload {
  import VersionedDml._

  private var batchDir: File = _
  private var script: IndexedSeq[Step] = _
  private var bytes = 0L

  override def setup(dir: File): Unit = {
    script = generate(new Random(seed))
    // One JSON-lines file per batch, the form a writer hands over.
    batchDir = new File(dir, "batches")
    script.foreach(s => s.rows.foreach(rows =>
      Util.writeLines(new File(batchDir, s"${s.op.name}.jsonl"), rows.iterator.map(toJsonl))))
    bytes = Util.du(batchDir)
  }

  override def inputBytes: Long = bytes

  override def rowsPerIteration: Long = script.map { s =>
    s.op match {
      case Read(_) | Changes => s.expectRows
      case _ => s.rows.map(_.size.toLong).getOrElse(0L)
    }
  }.sum

  // per round, for the traced metrics
  private val opSeconds = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
  private val rewriteDirs = mutable.ArrayBuffer.empty[(Int, Int)]
  private val rewriteBytes = mutable.ArrayBuffer.empty[(Long, Long)]
  private val logBytes = mutable.ArrayBuffer.empty[Double]

  /** A typical script's seconds, from per-op-type latencies: the sum over
    * op types of the type's count in the script times its median latency
    * over the later half of the warm scripts. Ops of different types differ
    * several-fold in latency, so no median is taken over a mix of types.
    */
  override def typicalSeconds(warm: Seq[Double]): Double = {
    val warmScripts = opSeconds.drop(1)
    val calls = warmScripts.drop(warmScripts.size / 2).flatten.toSeq
    opSeconds.head.groupBy(_._1).map { case (op, cs) =>
      cs.size * Util.median(calls.collect { case (k, s) if k == op => s })
    }.sum
  }

  override def round(first: Int): Round = {
    val results = (first until first + PerRound).map(replay)
    Round(results.map(_._1), script.size * PerRound, 0, results.forall(_._2), results.last._3)
  }

  /** Replays the script once from an empty root: (timed seconds, outputs
    * correct, bytes under the root at the end).
    */
  private def replay(i: Int): (Double, Boolean, Long) = {
    Util.quiesce()
    val root = new File(runDir, s"table-$i")
    val path = root.getPath
    val snaps = mutable.Map.empty[Long, Map[Long, Row]]
    val stepVersion = mutable.Map.empty[Int, Long]
    val times = mutable.ArrayBuffer.empty[(String, Double)]
    var ok = true
    var last: Long = 0L
    def batch(op: Op) = spark.read.schema(Schema).json(new File(batchDir, s"${op.name}.jsonl").getPath)
    def dataBytes() = Util.du(root) - Util.du(new File(root, "_commits"))
    def timedOp[T](kind: String)(body: => T): T = {
      val (s, r) = Util.timed(tracer.span(s"io.versioned.$kind")(body))
      times += kind -> s
      r
    }
    tracer.iteration(i) {
      script.zipWithIndex.foreach { case (step, k) =>
        val cid = s"step-$k"
        val before = if (step.op.rewrites) dataBytes() else 0L
        val version: Option[Long] = step.op match {
          case Append(_) => Some(timedOp("append")(
            VersionedTable.commit(batch(step.op), path, "append", cid, statsCols = Seq("id"))))
          case Merge(_) => Some(timedOp("merge") {
            val (v, rw, tot) = VersionedTable.mergeInto(spark, path, batch(step.op), "id", cid, statsCols = Seq("id"))
            rewriteDirs += rw -> tot; v
          })
          case Update(_) => Some(timedOp("update") {
            val (v, rw, tot) = VersionedTable.updateWhere(spark, path, batch(step.op), "id",
              Map("amount" -> s"amount + $UpdateDelta"), cid, statsCols = Seq("id"))
            rewriteDirs += rw -> tot; v
          })
          case Delete(_) => Some(timedOp("delete") {
            val (v, rw, tot) = VersionedTable.deleteWhere(spark, path, batch(step.op), "id", cid, statsCols = Seq("id"))
            rewriteDirs += rw -> tot; v
          })
          case Compact => Some(timedOp("compact")(
            VersionedTable.compact(spark, path, cid, targetFiles = 1, statsCols = Seq("id"))))
          case Read(asOf) =>
            val v = asOf.map(stepVersion)
            val got = timedOp("read")(VersionedTable.read(spark, path, v)
              .select("id", "cat", "amount", "note").collect())
            val rows = got.map(r => r.getLong(0) -> Row(r.getString(1), r.getLong(2), r.getString(3)))
            ok &&= rows.length == step.expectRows && rows.toMap == snaps(v.getOrElse(last))
            None
          case Changes =>
            val got = timedOp("changes")(VersionedTable.readChangeFeed(spark, path, last - 1, last, "id")
              .select("_change_type", "id", "cat", "amount", "note", "_commit_version").collect())
            val rows = got.map(r => (r.getString(0), r.getLong(1), Row(r.getString(2), r.getLong(3), r.getString(4)),
              r.getLong(5))).toSeq
            ok &&= rows.sortBy(_.toString) == diff(snaps(last - 1), snaps(last), last).sortBy(_.toString)
            None
        }
        version.foreach { v =>
          ok &&= v == last + 1
          snaps(v) = step.after
          stepVersion(k) = v
          last = v
          if (step.op.rewrites) rewriteBytes += (dataBytes() - before) -> step.changed
        }
      }
    }
    val stored = Util.du(root)
    logBytes += Util.du(new File(root, "_commits")).toDouble
    opSeconds += times.toSeq
    Util.deleteTree(root)
    (times.map(_._2).sum, ok, stored)
  }

  override def layerMetrics(warm: Seq[Int]): Map[String, Double] = {
    def med(xs: Seq[Double]) = Util.median(warm.map(xs))
    val perOp = Layers.versionedOps.flatMap { op =>
      val split = tracer.spanSplit(s"io.versioned.$op")
      val calls = warm.flatMap(i => opSeconds(i).collect { case (k, s) if k == op => s * 1e3 })
      Seq(s"io.versioned.${op}_driver_s" -> med(split.map(_._1)),
        s"io.versioned.${op}_exec_s" -> med(split.map(_._2)),
        s"io.versioned.${op}_p50_ms" -> Util.median(calls))
    }
    val (rw, tot) = rewriteDirs.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    val (bw, rows) = rewriteBytes.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    perOp.toMap ++ Map(
      "io.versioned.compact_s" -> med(tracer.spanSeconds("io.versioned.compact")),
      "io.versioned.dirs_rewritten_ratio" -> rw.toDouble / math.max(1L, tot),
      "io.versioned.bytes_per_changed_row" -> bw.toDouble / math.max(1L, rows),
      "io.versioned.log_bytes" -> med(logBytes.toSeq))
  }
}

object VersionedDml {
  final case class Row(cat: String, amount: Long, note: String)

  sealed trait Op {
    def name: String
    def rewrites: Boolean = false
  }
  final case class Append(name: String) extends Op
  final case class Merge(name: String) extends Op { override def rewrites = true }
  final case class Update(name: String) extends Op { override def rewrites = true }
  final case class Delete(name: String) extends Op { override def rewrites = true }
  final case class Read(asOfStep: Option[Int]) extends Op { def name = "read" }
  case object Changes extends Op { def name = "changes" }
  case object Compact extends Op { def name = "compact" }

  /** One script step: the op, its input batch (for update and delete, the
    * rows whose keys it targets), the model table after it, the rows a read or
    * change feed returns, and the rows a rewrite changes.
    */
  final case class Step(op: Op, rows: Option[Seq[(Long, Row)]], after: Map[Long, Row],
                        expectRows: Long = 0L, changed: Long = 0L)

  /** Script replays per round: one, so that a run's length follows
    * `--seconds` to within one script.
    */
  val PerRound = 1
  val UpdateDelta = 7L
  val Schema = "id BIGINT, cat STRING, amount BIGINT, note STRING"

  def toJsonl(r: (Long, Row)): String =
    s"""{"id":${r._1},"cat":"${r._2.cat}","amount":${r._2.amount},"note":"${r._2.note}"}"""

  /** The change feed of commit `v` from the model: inserts, deletes, and a
    * pre/post image pair for every changed row.
    */
  def diff(before: Map[Long, Row], after: Map[Long, Row], v: Long): Seq[(String, Long, Row, Long)] =
    (before.keySet ++ after.keySet).toSeq.flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(n)) => Seq(("insert", k, n, v))
        case (Some(o), None) => Seq(("delete", k, o, v))
        case (Some(o), Some(n)) if o != n => Seq(("update_preimage", k, o, v), ("update_postimage", k, n, v))
        case _ => Nil
      }
    }

  /** The script. Sizes and the op sequence are fixed; which keys each
    * rewrite touches and every value are drawn from `rnd`. Each rewrite
    * targets one earlier batch's key range, so it rewrites only some of the
    * table's data dirs.
    */
  def generate(rnd: Random): IndexedSeq[Step] = {
    var table = Map.empty[Long, Row]
    var nextId = 0L
    val history = mutable.ArrayBuffer.empty[Map[Long, Row]] // table after each write
    val ranges = mutable.Map.empty[String, (Long, Long)]
    val steps = mutable.ArrayBuffer.empty[Step]
    def row() = Row(s"c${rnd.nextInt(8)}", rnd.nextInt(1000000).toLong, rnd.alphanumeric.take(40).mkString)
    def live(range: String, n: Int): Seq[Long] = {
      val (lo, hi) = ranges(range)
      rnd.shuffle(table.keys.filter(k => k >= lo && k < hi).toVector.sorted).take(n)
    }
    def fresh(n: Int): Seq[Long] = { val ids = nextId until nextId + n; nextId += n; ids }
    def write(op: Op, rows: Seq[(Long, Row)], next: Map[Long, Row]): Unit = {
      val changed = VersionedDml.diff(table, next, 0L).map(_._2).distinct.size.toLong
      table = next
      history += table
      steps += Step(op, Some(rows), table, changed = changed)
    }
    def append(name: String, n: Int): Unit = {
      val rows = fresh(n).map(_ -> row())
      ranges(name) = (rows.head._1, rows.last._1 + 1)
      write(Append(name), rows, table ++ rows)
    }
    def merge(name: String, from: String, existing: Int, added: Int): Unit = {
      val rows = live(from, existing).map(k => k -> row().copy(amount = table(k).amount + 1 + rnd.nextInt(100))) ++
        fresh(added).map(_ -> row())
      write(Merge(name), rows, table ++ rows)
    }
    def update(name: String, from: String, n: Int): Unit = {
      val keys = live(from, n)
      write(Update(name), keys.map(k => k -> table(k)),
        table ++ keys.map(k => k -> table(k).copy(amount = table(k).amount + UpdateDelta)))
    }
    def delete(name: String, from: String, n: Int): Unit = {
      val keys = live(from, n)
      write(Delete(name), keys.map(k => k -> table(k)), table -- keys)
    }
    def read(asOfStep: Option[Int]): Unit = {
      val snap = asOfStep.map(s => steps(s).after).getOrElse(table)
      steps += Step(Read(asOfStep), None, table, expectRows = snap.size.toLong)
    }
    def changes(): Unit =
      steps += Step(Changes, None, table, expectRows = VersionedDml.diff(history(history.size - 2), table, 0L).size.toLong)

    append("a0", 3000)                     // 0
    append("a1", 3000)                     // 1
    read(None)                             // 2
    merge("m0", "a1", 280, 120)            // 3
    changes()                              // 4
    read(Some(0))                          // 5
    update("u0", "a1", 300)                // 6
    changes()                              // 7
    delete("d0", "a0", 200)                // 8
    changes()                              // 9
    read(None)                             // 10
    steps += Step(Compact, None, table); history += table // 11
    read(Some(3))                          // 12
    steps.toIndexedSeq
  }
}
