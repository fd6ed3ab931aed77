package graft.io

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.{SparkSpec, TestSpark}

/** Commit-time footer gather: past `graft.index.footerJobThreshold` files
  * the per-file footer stats come from a Spark job instead of the driver
  * pool. The job ships envelopes built on executors, so the path breaks
  * (`Task not serializable`) if they ever capture the `VersionedTable`
  * object again; both paths must write the same stats.
  */
class FooterGatherSpec extends SparkSpec {

  test("footer gather: the Spark-job path gives the driver pool's DirStats and _filestats bytes") {
    val dir = s"${TestSpark.tmpDir("footer_gather")}/v1"
    spark.range(0, 64 * 50L, 1, 4)
      .select(col("id"), (col("id") % 97).as("k"), concat(lit("s"), col("id") % 1000).as("s"))
      .repartition(64, col("id"))
      .write.parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val fsPath = VersionedTable.fileStatsPath(dir)
    val sc = spark.sparkContext
    def gather(session: SparkSession, group: String) = {
      Files.deleteIfExists(fsPath)
      sc.setJobGroup(group, group)
      try (VersionedTable.gatherStats(session, dir, Seq("id", "k", "s"), schema),
        Files.readAllBytes(fsPath))
      finally sc.clearJobGroup()
    }
    val (poolStats, poolBytes) = gather(spark, "footer-pool")
    // a session of its own, so the shared test session's config never changes
    val jobSession = spark.newSession()
    jobSession.conf.set("graft.index.footerJobThreshold", "1")
    val (jobStats, jobBytes) = gather(jobSession, "footer-job")

    // status updates arrive in order but asynchronously: once the job
    // path's job is visible, so is anything the pool path submitted
    val deadline = System.nanoTime() + 10_000_000_000L
    while (sc.statusTracker.getJobIdsForGroup("footer-job").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup("footer-job").nonEmpty, "the job path ran no Spark job")
    assert(sc.statusTracker.getJobIdsForGroup("footer-pool").isEmpty, "the pool path ran a Spark job")
    assert(poolStats.ints.keySet == Set("id", "k"), poolStats)
    assert(jobStats == poolStats)
    assert(java.util.Arrays.equals(jobBytes, poolBytes), "_filestats bytes differ between the paths")
  }
}
