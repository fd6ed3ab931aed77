package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.VersionedTable
import graft.operators.Par

/** Measures the change feed's cost contract (SCALE.md §cdf): a rewrite
  * commit's CDF must cost O(rewritten data) — the commit's own touched
  * dirs — never O(table). This builds an append-grown table of `appends`
  * range-disjoint slices, merges a batch that hits EXACTLY ONE dir, and
  * times the feed of that merge commit alone
  * (`readChangeFeed(appends, appends+1)`). As `appends` grows the table
  * mass grows linearly while the touched region stays one slice — the CDF
  * wall time must stay FLAT. A full-snapshot control scan is timed beside
  * it to show what O(table) would look like.
  *
  * Usage: runMain graft.ProfileChangeFeed <sfDir> [appendsList] [replicate]
  *   e.g. runMain graft.ProfileChangeFeed /root/testdata/sf0.1 4,16,64 8
  */
object ProfileChangeFeed {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val appendsList = args.drop(1).headOption.getOrElse("4,16,64")
      .split(",").map(_.trim.toInt).toSeq
    val replicate = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", ShmLocalDir.path())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("row_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")).cast("long"))
      .select("row_id", "user_id", "event_type")
    val baseN = base.count()
    val Seq(ev) = Par.materialize((if (replicate <= 1) base
      else spark.range(replicate).crossJoin(base)
        .withColumn("row_id", col("row_id") + col("id") * baseN).drop("id"))
      .repartition(32))
    val n = ev.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    println(f"rows=$n%d replicate=$replicate")
    appendsList.foreach { appends =>
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_profile_cdf_$appends"
      val rootPath = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(rootPath)) {
        import scala.jdk.CollectionConverters._
        val w = java.nio.file.Files.walk(rootPath)
        try w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
        finally w.close()
      }
      val slice = n / appends
      (0 until appends).foreach { i =>
        val lo = i * slice + 1
        val hi = if (i == appends - 1) n else (i + 1) * slice
        VersionedTable.commit(
          ev.filter(col("row_id") >= lo && col("row_id") <= hi),
          root, "append", f"a$i%04d", statsCols = Seq("row_id"))
      }
      // the merge batch re-types 1% of the FIRST slice — exactly one hit dir
      val batch = ev.filter(col("row_id") <= slice && col("row_id") % 100 === 0)
        .withColumn("event_type", lit("cdf_updated"))
      val (res, _) = timed(VersionedTable.mergeInto(spark, root, batch,
        "row_id", "m0", statsCols = Seq("row_id")))
      // warm + measured pass of the feed of JUST the merge commit
      def feedCount = VersionedTable.readChangeFeed(spark, root,
        appends.toLong, appends.toLong + 1, "row_id").count()
      val warm = feedCount
      val (cnt, tFeed) = timed(feedCount)
      val (_, tFull) = timed(VersionedTable.read(spark, root).count())
      println(f"appends=$appends%3d tableRows=$n%9d hitDirs=${res._2}%2d " +
        f"feedEvents=$cnt%7d (warm=$warm) cdf=$tFeed%6.2fs fullScan=$tFull%6.2fs")
    }
    spark.stop()
  }
}
