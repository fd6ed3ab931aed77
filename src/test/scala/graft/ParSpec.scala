package graft

import java.util.concurrent.{CompletionException, ExecutionException}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkException
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit, udf}

import graft.operators.Par

object ParSpec {
  /** Partitions of the slow leg that have finished (executors share the JVM under local[4]). */
  val slowDone = new AtomicInteger
}

class ParSpec extends SparkSpec {

  test("Par.materialize: frames come back checkpointed, in argument order") {
    val frames = Seq(3L, 5L, 7L).map(n => spark.range(n).toDF())
    val out = Par.materialize(frames: _*)
    assert(out.map(_.count()) == Seq(3L, 5L, 7L))
    assert(out.forall(_.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]))
  }

  test("Par.materialize: a failing leg rethrows its original exception once every leg has finished") {
    ParSpec.slowDone.set(0)
    val slow = spark.range(0, 2, 1, 2).select(udf { (x: Long) =>
      Thread.sleep(1500); ParSpec.slowDone.incrementAndGet(); x
    }.apply(col("id")))
    val failing = spark.range(0, 1, 1, 1).select(udf { (x: Long) =>
      if (x >= 0) throw new IllegalStateException("par-spec boom"); x
    }.apply(col("id")))
    // the failing leg comes first: a call that rethrew on the first failure
    // would return while the slow leg is still running
    val e = intercept[Exception](Par.materialize(failing, slow, spark.range(10).toDF()))
    assert(!e.isInstanceOf[ExecutionException] && !e.isInstanceOf[CompletionException], e)
    assert(e.isInstanceOf[SparkException], e)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage == "par-spec boom"), causes)
    assert(ParSpec.slowDone.get == 2, "returned before the slow leg finished")
    // a pool thread stays marked active for a moment after its leg completes
    val deadline = System.nanoTime() + 1_000_000_000L
    while (Par.pool.getActiveCount > 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(Par.pool.getActiveCount == 0, "a materialize leg is still running")
  }

  test("Par.widen reads a scan's partition count from the plan: it compiles no class") {
    val dir = TestSpark.tmpDir("widen-probe")
    spark.range(8).coalesce(1).selectExpr("id", "cast(id as string) AS s").write.mode("overwrite").json(dir)
    // a literal no other plan in this JVM carries: a compiled scan chain
    // could not come from the codegen cache
    val df = spark.read.json(dir).filter(col("id") =!= lit(System.nanoTime()))
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val widened = Par.widen(df)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles0,
      "Par.widen compiled a class to read a partition count")
    // one file scans as one partition, fewer than local[4]
    assert(widened ne df, "a narrow one-partition scan must be widened")
  }

  private def sourceRoot(tree: String) =
    java.nio.file.Paths.get(sys.props("user.dir"), "src", tree, "scala")

  /** `file:line: pattern` for every banned pattern in `src/<tree>/scala`
    * outside the one file allowed to hold it (`Nil` allows none).
    */
  private def sourceHits(allowed: Seq[String], banned: Seq[String],
                         tree: String = "main"): Seq[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = sourceRoot(tree)
    assert(Files.isDirectory(root), s"$root is not the $tree source tree")
    val home = root.resolve(Paths.get("graft", allowed: _*))
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != home).toSeq
    assert(files.size > 10, s"found only ${files.size} source files under $root")
    for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${root.relativize(f)}:${i + 1}: $b"
  }

  test("source guard: eager checkpoints and overlapped jobs go through Par only") {
    // "Future(" covers scala.concurrent.Future( and the imported form
    val hits = sourceHits(Seq("operators", "Par.scala"), Seq("localCheckpoint(", ".checkpoint(",
      "ExecutionContext.Implicits.global", "Future(", "Await."))
    assert(hits.isEmpty, "materialize through graft.operators.Par.materialize instead:\n" +
      hits.mkString("\n"))
  }

  test("source guard: library code never writes to a session's function registry") {
    val hits = sourceHits(Seq("functions", "ArrayOps.scala"),
      Seq("ArrayOps.register(", "createOrReplaceTempFunction"))
    assert(hits.isEmpty, "build graft's functions with the typed graft.functions.ArrayOps " +
      "builders instead:\n" + hits.mkString("\n"))
  }

  test("source guard: library code sets no codegen setting") {
    // the codegen cache size and switches belong to the caller's session:
    // a chain that overflows the cache is made smaller, not the cache larger
    val hits = sourceHits(Nil, Seq("spark.sql.codegen."))
    assert(hits.isEmpty, "cut the generated classes instead of setting codegen:\n" +
      hits.mkString("\n"))
  }

  test("source guard: every session is built by graft.LocalSession") {
    // spelled in pieces so this file does not match itself
    val builder = Seq("SparkSession", "builder").mkString(".")
    val hits = sourceHits(Seq("LocalSession.scala"), Seq(builder)) ++
      sourceHits(Nil, Seq(builder), tree = "test")
    assert(hits.isEmpty, "build the session with graft.LocalSession.build instead:\n" +
      hits.mkString("\n"))
    val home = java.nio.file.Files.readString(
      sourceRoot("main").resolve("graft/LocalSession.scala"))
    assert(home.split(java.util.regex.Pattern.quote(builder), -1).length == 2,
      s"graft/LocalSession.scala must hold exactly one $builder")
  }
}
