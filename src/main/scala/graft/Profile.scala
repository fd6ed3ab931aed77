package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graftshim.GraftListenerBridge

/** Dev harness: per-stage timing of named declared queries, bench-style.
  * Usage: runMain graft.Profile <sfDir> <query> [query ...]
  * Each query runs one cold and two warm passes into the noop sink; each
  * pass prints its wall time, summed stage time, the number of generated
  * classes compiled and their compile time, and the Spark jobs it ran.
  * Stages over 2 s print on their own, and a final
  * `count()` prints the query's row count.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query>...")
    val dir = args.head
    val spark = LocalSession.build(Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    val stageTotal = new AtomicLong(0)
    val jobs = new AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(0L)
        stageTotal.addAndGet(ms)
        if (ms > 2000) println(f"[stage] ${si.stageId} tasks=${si.numTasks} ${ms / 1000.0}%.1f s ${si.name.takeWhile(_ != '\n').take(60)}")
      }
    })
    args.tail.foreach { q =>
      try {
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime(); stageTotal.set(0); jobs.set(0)
          val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          val compileNs0 = CodeGenerator.compileTime
          Queries.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
          GraftListenerBridge.drain(spark.sparkContext)
          println(f"[profile] $q #$i: ${(System.nanoTime() - t0) / 1e9}%.2f s (stage-time ${stageTotal.get() / 1000.0}%.1f s)" +
            f" compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}" +
            f" compile=${(CodeGenerator.compileTime - compileNs0) / 1e9}%.2f s jobs=${jobs.get()}")
        }
        println(s"[profile] $q rows=${Queries.queries(q)(spark, dir).count()}")
      } catch { case e: Throwable =>
        println(s"[profile] $q FAILED: ${e.toString.take(500)}")
      }
    }
    spark.stop()
  }
}
