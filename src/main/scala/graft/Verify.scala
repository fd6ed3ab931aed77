package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name filter (local iteration;
    // the driver always runs the full registry)
    val only = args.drop(2).headOption.map(_.split(',').toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dump queries on a small worker pool: Spark schedules concurrent jobs
    // from independent threads fine (each query writes its own directory),
    // and 4-way overlap cuts the gate's wall time ~2-3x — insurance against
    // any external timeout on the correctness run. Results are unaffected:
    // every query is its own deterministic plan.
    val workers = sys.env.getOrElse("SPARK_GRAFT_VERIFY_WORKERS", "4").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
    val doneCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              val msg = s"[verify] $name failed: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" | ")}"
              println(msg); System.err.println(msg); System.out.flush()
            }
            // periodic GC so the ContextCleaner reclaims per-query state
            // (see Bench.scala) without per-query stalls
            if (doneCount.incrementAndGet() % 8 == 0) System.gc()
          }
        })
      }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
