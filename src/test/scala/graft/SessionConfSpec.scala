package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.io.{BucketedIndex, VersionedTable}
import graft.QuerySupport.dirTag

/** Library code leaves the caller's session config alone: a fixture dir's
  * catalog lives on its own session, and work that needs a different
  * setting runs on a private session instead of flipping the caller's.
  */
class SessionConfSpec extends SparkSpec {

  /** A copy of the test fixture under a fresh path, so it has its own
    * `dirTag` and no registry fixture of this JVM has been built from it.
    */
  private def fixtureCopy(prefix: String): String = {
    val dst = TestSpark.tmpDir(prefix)
    Files.list(Paths.get(TestSpark.sf)).iterator().asScala
      .foreach(p => Files.copy(p, Paths.get(dst, p.getFileName.toString)))
    dst
  }

  private def strRows(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf))

  test("catalog queries on two fixture dirs in one session: each dir reads and writes its own warehouse") {
    val dirs = Seq(TestSpark.sf, fixtureCopy("catalog-dir-b"))
    assert(dirTag(dirs(0)) != dirTag(dirs(1)))
    for (dir <- dirs) {
      spark.read.parquet(s"$dir/orders.parquet").createOrReplaceTempView("two_dir_orders")
      val select = strRows(Queries.queries("versioned_catalog_select")(spark, dir))
      assert(select == strRows(spark.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS STRING) AS price_sum,
          |  1 AS pushed, 1 AS scanned_dirs, 2 AS total_dirs
          |FROM two_dir_orders WHERE o_orderkey > (SELECT max(o_orderkey) div 2 FROM two_dir_orders)
          |GROUP BY 1 ORDER BY 1""".stripMargin)), dir)
      val insert = strRows(Queries.queries("versioned_catalog_insert")(spark, dir))
      assert(insert == strRows(spark.sql(
        """SELECT o_orderpriority, count(*) AS n,
          |  CAST(sum(2 * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
          |  (SELECT count(*) FROM two_dir_orders WHERE o_orderkey % 2 = 0) AS rows_v2,
          |  (SELECT count(*) FROM two_dir_orders) AS rows_v3
          |FROM two_dir_orders GROUP BY 1 ORDER BY 1""".stripMargin)), dir)
      val wh = s"${System.getProperty("java.io.tmpdir")}/graft_catalog_wh_${dirTag(dir)}"
      assert(VersionedTable.latestVersion(s"$wh/sel/orders").isDefined, wh)
      assert(VersionedTable.latestVersion(s"$wh/ins/t").isDefined, wh)
    }
    assert(spark.conf.getOption("spark.sql.catalog.gq").isEmpty,
      "the caller's session got a catalog setting")
  }

  test("a concurrent reader of the caller's session never sees a temporary setting") {
    val temporary = Map(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
    val before = temporary.keys.map(k => k -> spark.conf.getOption(k)).toMap
    assert(before.forall { case (k, v) => !v.contains(temporary(k)) }, before)
    val seen = new ConcurrentHashMap[String, String]()
    val polls = new AtomicLong
    val stop = new AtomicBoolean
    val reader = new Thread(() => while (!stop.get) {
      temporary.foreach { case (k, tmp) =>
        if (spark.conf.getOption(k).contains(tmp)) seen.put(k, tmp)
      }
      polls.incrementAndGet()
      Thread.sleep(1)
    })
    reader.setDaemon(true)
    reader.start()
    try {
      // a fresh dir, so versioned_write_ordered builds its fixture (the
      // commit that needs AQE coalescing off) inside this test
      val dir = fixtureCopy("conf-reader")
      assert(Queries.queries("versioned_write_ordered")(spark, dir).collect().nonEmpty)
      assert(Queries.queries("stream_timer_sessions")(spark, dir).collect().nonEmpty)
      import spark.implicits._
      val root = TestSpark.tmpDir("conf-reader-bucketed")
      spark.sql("DROP TABLE IF EXISTS graft_conf_reader_t")
      (0L until 40L).map(i => (i, i * 3)).toDF("k", "v")
        .write.bucketBy(4, "k").sortBy("k")
        .option("path", s"$root/t0").saveAsTable("graft_conf_reader_t")
      (40L until 60L).map(i => (i, i * 3)).toDF("k", "v")
        .write.mode("append").bucketBy(4, "k").sortBy("k").saveAsTable("graft_conf_reader_t")
      BucketedIndex.compact(spark, "graft_conf_reader_t", 4, "k", s"$root/t1")
      assert(spark.table("graft_conf_reader_t").count() == 60L)
      val files = new java.io.File(s"$root/t1").listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 4, s"compaction left $files files")
    } finally {
      stop.set(true)
      reader.join()
    }
    assert(polls.get > 100, s"the reader polled only ${polls.get} times")
    assert(seen.isEmpty, s"a reader of the caller's session saw ${seen.asScala}")
    assert(temporary.keys.map(k => k -> spark.conf.getOption(k)).toMap == before)
  }
}
