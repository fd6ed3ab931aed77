package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, ExecutionException, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}

import graft.io.VersionedTable
import graft.operators.Par
import graft.operators.ext.Dedup

object JobGroupSpec {
  /** Rows of the slow legs that finished their sleep. */
  val rowsDone = new AtomicInteger
}

/** Cancellation reach: every Spark job an engine call submits — including
  * the overlapped checkpoint jobs of a multi-frame materialization — must
  * carry the caller's job group, or cancelling that group misses them.
  */
class JobGroupSpec extends SparkSpec {

  test("jobs submitted by readChangeFeed and minhashLshPairs carry the caller's job group") {
    import spark.implicits._
    val sc = spark.sparkContext
    val root = TestSpark.tmpDir("jobgroup_cdf")
    VersionedTable.commit(Seq((1L, "a"), (2L, "b"), (10L, "x")).toDF("id", "s"), root,
      "append", "c0", statsCols = Seq("id"))
    VersionedTable.mergeInto(spark, root, Seq((10L, "X2"), (3L, "c")).toDF("id", "s"),
      "id", "m0", statsCols = Seq("id"))
    val docs = Seq((1L, "the quick brown fox"), (2L, "the quick brown fox"),
      (3L, "entirely different words here")).toDF("doc_id", "text")

    // the change feed is lazy, so its jobs run at the collect; a two-frame
    // materialize runs one leg on Par's pool
    def calls() = {
      Par.materialize(spark.range(10).toDF(), spark.range(20).toDF())
      (VersionedTable.readChangeFeed(spark, root, 1L, 2L, "id")
        .select("_change_type", "id").as[(String, Long)].collect().toSet,
        Dedup.minhashLshPairs(docs, "doc_id", "text", 4, 19, 20)
          .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    }
    // the same calls on another thread first, under another group, as a
    // server's other request threads would: any worker thread they start
    // inherits that thread's properties
    val other = java.util.concurrent.Executors.newSingleThreadExecutor()
    try other.submit { () => sc.setJobGroup("other", "other"); calls() }.get()
    finally other.shutdown()

    // job groups in start order; a sentinel job under its own group marks
    // where the calls began and ended, since listener delivery is async
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(js.properties.getProperty("spark.jobGroup.id"))): Unit
    }
    def sentinel(name: String): Unit = {
      sc.setJobGroup(name, name)
      spark.range(1).count()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!groups.contains(name) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(name), s"listener never saw the $name job")
    }
    sc.addSparkListener(listener)
    val (feed, pairs) = try {
      sentinel("start")
      sc.setJobGroup("g", "job-group reach")
      val out = calls()
      sentinel("end")
      out
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = groups.asScala.toSeq
    val during = seen.slice(seen.lastIndexOf("start") + 1, seen.indexOf("end"))
    assert(during.nonEmpty, s"the calls ran no job: $seen")
    assert(during.forall(_ == "g"),
      s"jobs outside the caller's group: ${during.filterNot(_ == "g")} of $during")
    // the calls still answer correctly
    assert(feed == Set(("update_preimage", 10L), ("update_postimage", 10L), ("insert", 3L)))
    assert(pairs == Set((1L, 2L)))
  }

  test("cancelling the caller's job group while both legs of a materialize run stops both and rethrows") {
    val sc = spark.sparkContext
    val group = "cancel-overlap"
    val started = new ConcurrentLinkedQueue[Integer]()
    val ended = new ConcurrentHashMap[Integer, JobResult]()
    val cancelled = new AtomicBoolean
    val startedAfterCancel = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group) {
          if (cancelled.get) startedAfterCancel.incrementAndGet()
          started.add(js.jobId)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (started.contains(je.jobId)) ended.put(je.jobId, je.jobResult)
    }
    def slow() = spark.range(0, 2, 1, 2).select(udf { (x: Long) =>
      Thread.sleep(5000); JobGroupSpec.rowsDone.incrementAndGet(); x
    }.apply(col("id")))
    JobGroupSpec.rowsDone.set(0)
    sc.addSparkListener(listener)
    val caller = Executors.newSingleThreadExecutor()
    try {
      val call = caller.submit { () =>
        sc.setJobGroup(group, "cancel while legs overlap", interruptOnCancel = true)
        try Par.materialize(slow(), slow()) finally sc.clearJobGroup()
      }
      val deadline = System.nanoTime() + 20_000_000_000L
      while (started.size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(started.size == 2, s"both legs' jobs never started: ${started.asScala}")
      cancelled.set(true)
      sc.cancelJobGroup(group)
      val e = intercept[ExecutionException](call.get(30, TimeUnit.SECONDS)).getCause
      assert(e.isInstanceOf[SparkException] && e.getMessage.contains("cancelled"), e)
      val endDeadline = System.nanoTime() + 10_000_000_000L
      while (ended.size < started.size && System.nanoTime() < endDeadline) Thread.sleep(10)
    } finally {
      caller.shutdown()
      sc.removeSparkListener(listener)
    }
    assert(ended.size == started.size, s"jobs ${started.asScala} ended only ${ended.asScala}")
    assert(!ended.values.asScala.exists(_ == JobSucceeded), s"a leg finished: ${ended.asScala}")
    assert(startedAfterCancel.get == 0, "a job of the group started after the cancel")
    assert(JobGroupSpec.rowsDone.get == 0, s"${JobGroupSpec.rowsDone.get} rows finished")
  }
}
