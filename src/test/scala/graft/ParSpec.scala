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
    val home = sourceRoot(tree).resolve(java.nio.file.Paths.get("graft", allowed: _*))
    for {
      (f, lines) <- sourceFiles(tree) if f != home
      (line, i) <- lines.zipWithIndex
      b <- banned if line.contains(b)
    } yield s"${sourceRoot(tree).relativize(f)}:${i + 1}: $b"
  }

  /** Every `.scala` file in `src/<tree>/scala` with its lines. */
  private def sourceFiles(tree: String): Seq[(java.nio.file.Path, IndexedSeq[String])] = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = sourceRoot(tree)
    assert(Files.isDirectory(root), s"$root is not the $tree source tree")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 10, s"found only ${files.size} source files under $root")
    files.map(f => f -> Files.readAllLines(f).asScala.toIndexedSeq)
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

  test("source guard: only QuerySupport.onCatalog sets a catalog") {
    // a catalog is loaded once per session, so a later write of its keys
    // is ignored: one private session per fixture dir carries them
    val keys = Seq("conf.set(\"", "conf.set(s\"", "config(\"").map(_ + "spark.sql.catalog.")
    val hits = sourceHits(Seq("QuerySupport.scala"), keys)
    assert(hits.isEmpty, "run catalog SQL through graft.QuerySupport.onCatalog instead:\n" +
      hits.mkString("\n"))
    val home = java.nio.file.Files.readString(
      sourceRoot("main").resolve("graft/QuerySupport.scala")).split("\n").toIndexedSeq
    val writes = home.indices.filter(i => keys.exists(home(i).contains))
    assert(writes.size == 2 && writes.forall { i =>
      home.take(i).reverse.find(_.contains(" def ")).exists(_.contains("def onCatalog("))
    }, s"QuerySupport.scala sets catalog keys outside onCatalog, at lines ${writes.map(_ + 1)}")
  }

  test("source guard: no code saves, sets and restores a session's config around its work") {
    // a concurrent reader of the session would see the temporary value:
    // work that needs another setting runs on a session it made itself.
    // withDriverListing is the one exception (see its scaladoc).
    val write = """(\w+)\.conf\.(?:set|unset)\(""".r
    val fresh = """val (\w+) = .*\bnewSession\(\)""".r
    val hits = for {
      (f, lines) <- sourceFiles("main")
      made = lines.flatMap(l => fresh.findFirstMatchIn(l).map(_.group(1))).toSet
      (line, i) <- lines.zipWithIndex
      recv <- write.findAllMatchIn(line).map(_.group(1)).toSeq.distinct
      if !made(recv) && lines.slice(math.max(0, i - 3), i + 1).exists(_.contains("finally")) &&
        lines.slice(math.max(0, i - 20), i).exists(l =>
          l.contains(s"$recv.conf.get(") || l.contains(s"$recv.conf.getOption("))
      if !lines.take(i).reverse.find(_.contains(" def ")).exists(_.contains("def withDriverListing["))
    } yield s"${sourceRoot("main").relativize(f)}:${i + 1}: $recv.conf"
    assert(hits.isEmpty, "set the value on a private session (newSession()) instead:\n" +
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
