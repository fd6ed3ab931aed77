package graftbench

import java.io.File
import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StringType

import graft.Pipeline
import graft.io.{DocumentSink, JsonDocumentSink, ParquetTableFormat, StagedWarehouseSink, TableFormat, WarehouseSink}
import graft.sources.Ingest

/** A day of full-market ticker polls, as the poller would have collected
  * them: `polls` JSON payloads, each quoting every symbol once. Prices are
  * held in cents so the expected aggregates are exact.
  */
final case class TickerDay(asOf: LocalDate, symbols: IndexedSeq[String], cents: Array[Array[Long]]) {
  def payloads(rnd: Random): Seq[String] = cents.indices.map { p =>
    rnd.shuffle(symbols.indices.toVector).map { s =>
      val c = cents(p)(s)
      f"""{"symbol":"${symbols(s)}","price":${c / 100}.${c % 100}%02d}"""
    }.mkString("[", ",", "]")
  }

  /** Distinct (symbol, price) rows: what silver must hold. */
  def distinctTicks: Long =
    symbols.indices.map(s => cents.iterator.map(_(s)).toSet.size.toLong).sum

  /** Per-symbol (min, max) in cents. */
  def minMax: Map[String, (Long, Long)] = symbols.indices.map { s =>
    val col = cents.map(_(s))
    symbols(s) -> (col.min, col.max)
  }.toMap
}

object TickerDay {
  /** `repeat` is the share of polls in which a symbol's price is unchanged. */
  def generate(rnd: Random, asOf: LocalDate, nSymbols: Int, polls: Int, repeat: Double): TickerDay = {
    val symbols = (0 until nSymbols).map { i =>
      val base = Iterator.iterate(i)(_ / 26).take(4).map(d => ('A' + d % 26).toChar).mkString.reverse
      s"${base}USDT"
    }
    val cents = Array.ofDim[Long](polls, nSymbols)
    for (s <- 0 until nSymbols) {
      // magnitudes from 1 cent to ~$30k, spread evenly over the symbols so
      // that every seed's day has the same mix of price widths
      var c = math.max(1L, math.round(math.pow(10, 6.5 * (s + 0.5) / nSymbols) * rnd.between(0.9, 1.1)))
      for (p <- 0 until polls) {
        if (p > 0 && rnd.nextDouble() >= repeat)
          c = math.max(1L, math.round(c * (1 + rnd.nextGaussian() * 0.002)) + (if (rnd.nextBoolean()) 1 else -1))
        cents(p)(s) = c
      }
    }
    TickerDay(asOf, symbols, cents)
  }
}

/** `medallion_daily`: the paper's chain. One seeded day of polls goes
  * through `Ingest.parseBatches` and `Pipeline.run` into a fresh root on
  * each iteration. After its timed iterations, every round performs two
  * untimed operations on fixed, seed-independent days that exercise the
  * re-run faults of the chain (see README).
  */
final class MedallionDaily(spark: SparkSession, tracer: Tracer, seed: Long, runDir: File) extends Workload {
  import MedallionDaily._

  private var day: TickerDay = _
  private var payloads: Seq[String] = Nil
  private var payloadBytes = 0L

  override def setup(dir: File): Unit = {
    val rnd = new Random(seed)
    val d = TickerDay.generate(rnd, LocalDate.of(2024, 1, 1).plusDays(math.floorMod(seed, 365L)),
      Symbols, Polls, Repeat)
    val f = new File(dir, "polls.jsonl")
    Util.writeLines(f, d.payloads(rnd).iterator)
    // The fixture: the day's payloads as the poller hands them over.
    payloads = Files.readAllLines(f.toPath).asScala.toSeq
    payloadBytes = f.length()
    day = d
  }

  override def inputBytes: Long = payloadBytes
  override def rowsPerIteration: Long = day.symbols.size.toLong * day.cents.length

  private def pipeline(root: File): Pipeline = {
    val fmt: TableFormat = if (tracer.enabled) new TracedFormat(tracer, ParquetTableFormat) else ParquetTableFormat
    val wh: WarehouseSink = new StagedWarehouseSink(s"$root/staging", s"$root/warehouse")
    val docs: DocumentSink = JsonDocumentSink
    if (!tracer.enabled) new Pipeline(fmt, wh, docs)
    else new Pipeline(fmt,
      (df: DataFrame, table: String) => tracer.span("io.warehouse_append")(wh.append(df, table)),
      (df: DataFrame, path: String) => tracer.span("io.documents_write")(docs.write(df, path)))
  }

  /** Runs one day into `root`; returns the cached serving frame. */
  private def runDay(root: File, payloads: Seq[String], asOf: LocalDate): DataFrame = {
    val ingested = tracer.span("sources.parse") {
      val df = Ingest.parseBatches(spark, payloads)
      // traced run only: materialize so the parse is timed on its own
      if (tracer.enabled) df.localCheckpoint(true) else df
    }
    pipeline(root).run(spark, ingested, root.getPath, asOf)
  }

  override def round(first: Int): Round = {
    val results = (first until first + PerRound).map { i =>
      Util.quiesce()
      val root = new File(runDir, s"day-$i")
      val (secs, serving) = Util.timed(tracer.iteration(i)(runDay(root, payloads, day.asOf)))
      serving.unpersist(true)
      val stored = Util.du(root)
      if (tracer.enabled) filesWritten += Util.dataFiles(root).toDouble
      lastRoot.foreach(Util.deleteTree)
      lastRoot = Some(root)
      (secs, stored)
    }
    val faults = faultOps()
    Round(results.map(_._1), PerRound + faults.size, faults.count(!_), correct = true, results.last._2)
  }

  override def minIterations: Int = PerRound

  /** The root of the latest daily run, kept for [[finalCheck]]: a check
    * costs about a fifth of an iteration, so only the run's last daily run
    * is checked.
    */
  private var lastRoot: Option[File] = None

  override def finalCheck(): Boolean = lastRoot.exists(checkDay)

  private def checkDay(root: File): Boolean = {
    val expect = day.minMax
    val silverRows = spark.read.parquet(s"$root/silver").count()
    val gold = spark.read.parquet(s"$root/gold")
      .select("symbol", "min_value", "max_value", "diff").collect()
      .map(r => r.getString(0) -> (cents(r.getDecimal(1)), cents(r.getDecimal(2)), cents(r.getDecimal(3))))
      .toMap
    val goldOk = gold.size == expect.size && expect.forall { case (s, (lo, hi)) =>
      gold.get(s).contains((lo, hi, hi - lo))
    }
    val expectRows = servingRows(day)
    val wh = spark.read.parquet(s"$root/warehouse/gold_serving")
    val whOk = wh.schema.fields.forall(_.dataType == StringType) &&
      wh.collect().map(r => wh.columns.indices.map(r.getString).toSeq).sortBy(_.head.toInt).toSeq == expectRows
    val docs = Util.partLines(new File(root, "documents")).map { l =>
      val n = Json.mapper.readTree(l)
      ServingCols.map(c => n.get(c).asText())
    }.sortBy(_.head.toInt)
    silverRows == day.distinctTicks && goldOk && whOk && docs == expectRows
  }

  /** The root after the first fault day, built once and copied for each
    * fault operation.
    */
  private lazy val faultBase: File = {
    val base = new File(runDir, "fault-base")
    val (d1, _) = faultDays
    runDay(base, d1.payloads(new Random(1)), d1.asOf).unpersist(true)
    base
  }

  /** The two re-run faults, each as one operation that passes only when the
    * warehouse holds every day's rows exactly once. Inputs are fixed, not
    * seeded: the operations fail the same way in every run.
    */
  private def faultOps(): Seq[Boolean] = {
    val (d1, d2) = faultDays
    val a = new File(runDir, "next-day")
    val b = new File(runDir, "replay")
    Util.copyTree(faultBase, a)
    Util.copyTree(faultBase, b)
    // (a) the next day into the same root
    runDay(a, d2.payloads(new Random(2)), d2.asOf).unpersist(true)
    val okA = warehouseHoldsOnce(a, Seq(d1, d2))
    // (b) the same day again
    runDay(b, d1.payloads(new Random(1)), d1.asOf).unpersist(true)
    val okB = warehouseHoldsOnce(b, Seq(d1))
    Util.deleteTree(a)
    Util.deleteTree(b)
    Seq(okA, okB)
  }

  private def warehouseHoldsOnce(root: File, days: Seq[TickerDay]): Boolean = {
    val got = spark.read.parquet(s"$root/warehouse/gold_serving")
      .select("symbol", "as_of_year", "as_of_month", "as_of_day").collect()
      .map(r => (0 until 4).map(r.getString).mkString("|")).toSeq.sorted
    val want = days.flatMap(d => d.symbols.map(s =>
      Seq(s, d.asOf.getYear, d.asOf.getMonthValue, d.asOf.getDayOfMonth).mkString("|"))).sorted
    got == want
  }

  private val filesWritten = scala.collection.mutable.ArrayBuffer.empty[Double]

  override def layerMetrics(warm: Seq[Int]): Map[String, Double] = {
    def med(xs: Seq[Double]) = Util.median(warm.map(xs))
    val stages = Seq("sources.parse", "io.write_bronze", "io.write_silver", "io.write_gold",
      "io.warehouse_append", "io.documents_write")
    val times = stages.map(s => s"${s}_s" -> med(tracer.spanSeconds(s))).toMap
    times ++ Map(
      "io.warehouse_commit_s" -> med(tracer.spanSplit("io.warehouse_append").map(_._1)),
      "io.files_written" -> med(filesWritten.toSeq))
  }
}

object MedallionDaily {
  /** Timed daily runs per round; the round then runs the two fault operations. */
  val PerRound = 3
  /** Symbols quoted per poll: every symbol is kept, not a tracked five. The
    * reference's endpoint quotes the whole market; its size is not recorded,
    * so this count is chosen.
    */
  val Symbols = 200
  /** The reference polls back to back inside one 180 s window a day; at an
    * assumed one poll per second (the round trip is not recorded) that is
    * 180 polls.
    */
  val Polls = 180
  /** Share of polls that repeat a symbol's previous price. */
  val Repeat = 0.75

  val ServingCols: Seq[String] =
    Seq("id", "symbol", "min_value", "max_value", "diff", "as_of_year", "as_of_month", "as_of_day")

  /** Two small consecutive days for the fault operations, the same in every run. */
  lazy val faultDays: (TickerDay, TickerDay) = {
    val r = new Random(0)
    (TickerDay.generate(r, LocalDate.of(2021, 3, 1), 4, 3, Repeat),
      TickerDay.generate(r, LocalDate.of(2021, 3, 2), 4, 3, Repeat))
  }

  private def cents(d: java.math.BigDecimal): Long = d.movePointRight(2).longValueExact()

  private def money(c: Long): String = f"${c / 100}.${c % 100}%02d"

  /** The serving rows the warehouse and the documents must hold, computed
    * from the generated ticks: ids 1..N in symbol order, every value a string.
    */
  def servingRows(d: TickerDay): Seq[Seq[String]] =
    d.minMax.toSeq.sortBy(_._1).zipWithIndex.map { case ((s, (lo, hi)), i) =>
      Seq((i + 1).toString, s, money(lo), money(hi), money(hi - lo),
        d.asOf.getYear.toString, d.asOf.getMonthValue.toString, d.asOf.getDayOfMonth.toString)
    }
}

/** The table format with one span per write, named after the layer. */
final class TracedFormat(tracer: Tracer, inner: TableFormat) extends TableFormat {
  override def write(df: DataFrame, path: String, partitionCols: Seq[String],
                     mode: SaveMode, maxRecordsPerFile: Long): Unit =
    tracer.span(s"io.write_${new File(path).getName}")(inner.write(df, path, partitionCols, mode, maxRecordsPerFile))

  override def read(spark: SparkSession, path: String): DataFrame = inner.read(spark, path)
}
