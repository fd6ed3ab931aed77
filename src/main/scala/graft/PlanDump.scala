package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Dev harness: write `explain("formatted")` of named declared queries to
  * files — the evidence trail the optimization rounds commit under
  * `plans/rN/`. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> <suffix> <query> [query ...]
  * writes `<outDir>/<query>_<suffix>.txt` per query (the pre-execution AQE
  * plan, same shape as the committed `_before` dumps).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val spark = LocalSession.build(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { name =>
      try {
        val df = Queries.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.toString.take(300)}")
      }
    }
    spark.stop()
  }
}
