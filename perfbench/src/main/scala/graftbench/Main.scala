package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one round of a workload did: the seconds of each timed iteration
  * (the untimed checks and extra operations excluded), the operations it
  * attempted and those that failed.
  */
final case class Round(iters: Seq[Double], attempted: Int, failed: Int, correct: Boolean,
                       storedBytes: Long)

/** A workload owns its generated inputs and runs one round at a time. */
trait Workload {
  /** Generates every input under `dir` from the seed.
    * Called several times, each into a fresh `dir`; the last call's inputs
    * are the ones the rounds use.
    */
  def setup(dir: File): Unit

  /** Bytes of the generated input files (the base of exec.input_read_ratio). */
  def inputBytes: Long

  /** Rows one iteration processes (the numerator of rows_per_s). */
  def rowsPerIteration: Long

  /** Iterations a run makes at least, the cold one included, so that the
    * typical warm iteration rests on the same samples however fast the
    * host is.
    */
  def minIterations: Int = 2

  /** One round: timed iterations, numbered from `first`, then untimed
    * checks. Rounds are alike, so every run attempts whole rounds of the
    * same operations.
    */
  def round(first: Int): Round

  /** Seconds of a typical warm iteration: by default the median of the
    * later half of the warm iterations. Iteration times keep falling over
    * the first warm iterations while the JIT compiles the hot paths; the
    * later half is past most of that.
    */
  def typicalSeconds(warm: Seq[Double]): Double = Util.median(warm.drop(warm.size / 2))

  /** Checks made once per run after the rounds; false when one fails. */
  def finalCheck(): Boolean = true

  /** Workload-specific per-layer metrics of the traced run, given the
    * numbers of the warm iterations.
    */
  def layerMetrics(warm: Seq[Int]): Map[String, Double]
}

/** One benchmark run in a JVM of its own:
  * `Main --workload W --seed N --seconds S --trace 0|1 --work DIR [--trace-out FILE]`.
  * Prints one JSON object as the last line of standard output.
  */
object Main {
  /** Set-up is repeated and its median reported, so that one slow pass
    * does not read as a regression.
    */
  val SetupRepeats = 3

  /** Local parallelism and shuffle width, fixed so that runs on hosts with
    * more cores stay comparable; fewer cores lower only the parallelism.
    */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    require(Workloads.names.contains(name), s"unknown workload '$name' (${Workloads.names.mkString(", ")})")

    val (sessionS, spark) = Util.timed(session(work))
    val tracer = new Tracer(spark, traced)
    val w = Workloads.make(name, spark, tracer, seed, new File(work, "run"))
    val setupS = (0 until SetupRepeats).map { k =>
      Util.timed(w.setup(new File(work, s"input-$k")))._1
    }
    log(f"session $sessionS%.2f s, set-up ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    val rounds = mutable.ArrayBuffer.empty[Round]
    val iters = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (iters.size < w.minIterations || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (wall, r) = Util.timed(w.round(iters.size))
      rounds += r
      iters ++= r.iters
      log(f"round ${rounds.size - 1}: timed ${r.iters.map(x => f"$x%.3f").mkString(" ")} s of $wall%.3f s")
    }
    val finalOk = w.finalCheck()
    val warm = iters.indices.drop(1)

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", sessionS + Util.median(setupS), "s"),
        ("cold_run_s", iters.head, "s"),
        ("rows_per_s", w.rowsPerIteration / w.typicalSeconds(warm.map(iters)), "1/s"),
        ("stored_bytes", Util.median(rounds.map(_.storedBytes.toDouble).toSeq), "bytes"))
      else {
        val counters = tracer.sparkCounters(spark.sparkContext.defaultParallelism, w.inputBytes)
        val common = counters.head.keys.toSeq.sorted.map { k =>
          (k, Util.median(warm.map(counters(_)(k))), Layers.unit(k))
        }
        val cold = Seq(
          ("plans.cold_planning_s", counters.head("plans.planning_s"), "s"),
          ("codegen.cold_compile_s", counters.head("codegen.compile_s"), "s"),
          ("trace.warm_iter_s", w.typicalSeconds(warm.map(iters)), "s"))
        val own = w.layerMetrics(warm)
        tracer.writeTo(new File(opt("trace-out")).toPath)
        common ++ cold ++ Layers.workloadSpecific.map(k => (k, own.getOrElse(k, 0.0), Layers.unit(k)))
      }

    val attempted = rounds.map(_.attempted).sum
    val failed = rounds.map(_.failed).sum
    val correct = finalOk && rounds.forall(_.correct)
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def session(work: File): SparkSession = {
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Workloads {
  val names: Seq[String] = Seq("medallion_daily", "curation", "versioned_dml")

  def make(name: String, spark: SparkSession, tracer: Tracer, seed: Long, runDir: File): Workload =
    name match {
      case "medallion_daily" => new MedallionDaily(spark, tracer, seed, runDir)
      case "curation" => new Curation(spark, tracer, seed, runDir)
      case "versioned_dml" => new VersionedDml(spark, tracer, seed, runDir)
    }
}

/** Names and units of the per-layer metrics. Every traced run reports the
  * common counters and all of [[workloadSpecific]]; a layer a workload
  * never calls reads 0.
  */
object Layers {
  val versionedOps: Seq[String] = Seq("append", "merge", "update", "delete", "read", "changes")

  val workloadSpecific: Seq[String] =
    Seq("sources.parse_s", "io.write_bronze_s", "io.write_silver_s", "io.write_gold_s",
      "io.warehouse_append_s", "io.warehouse_commit_s", "io.documents_write_s", "io.files_written") ++
    versionedOps.flatMap(op => Seq(s"io.versioned.${op}_driver_s", s"io.versioned.${op}_exec_s",
      s"io.versioned.${op}_p50_ms")) ++
    Seq("io.versioned.compact_s", "io.versioned.dirs_rewritten_ratio",
      "io.versioned.bytes_per_changed_row", "io.versioned.log_bytes") ++
    Seq("operators.ext.quality_s", "operators.ext.exact_dedup_s", "operators.ext.minhash_pairs_s",
      "operators.ext.clusters_s", "operators.ext.contamination_s", "operators.mix_s",
      "operators.ext.pack_s")

  def unit(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("per_changed_row")) "bytes/row"
    else if (k.endsWith("_ratio") || k.endsWith("_skew")) "ratio"
    else "count"
}
