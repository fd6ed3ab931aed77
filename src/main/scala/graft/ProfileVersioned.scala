package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.VersionedTable
import graft.operators.Par

/** Measures the manifest data-skipping payoff (SCALE.md §versioned): a
  * production append-grown table accumulates one commit per ingest cycle;
  * a range query (a time window, an id slice) should cost O(matching
  * commits), not O(table). This builds that shape honestly — `appends`
  * commits of DISJOINT contiguous key slices of the events table, stats on
  * the slice key — then times the same aggregate three ways:
  *
  *   full      — whole-snapshot scan + filter (what a stats-less table does)
  *   pruned    — [[VersionedTable.readRange]]: manifest skip, then residual
  *   (control) — both must return identical results; asserted every pass
  *
  * Expected shape: `planRange` keeps 1 of `appends` dirs, and pruned wall
  * time approaches full/appends plus the constant manifest-resolution cost.
  * The gap WIDENS with table size: full scan cost grows with total mass,
  * pruned stays flat at one slice.
  *
  * Usage: runMain graft.ProfileVersioned <sfDir> [appends] [replicate]
  * (`replicate` multiplies the events table with offset row ids — the sf0.1
  * fixture alone is scheduling-bound, which hides the scan-cost difference
  * the skip exists to remove.)
  */
object ProfileVersioned {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val appends = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val replicate = args.drop(2).headOption.map(_.toInt).getOrElse(1)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.local.dir", ShmLocalDir.path())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_profile_versioned"
    val rootPath = java.nio.file.Paths.get(root)
    if (java.nio.file.Files.exists(rootPath)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(rootPath)
      try w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally w.close()
    }
    // events keyed by a contiguous synthetic id so slices are range-disjoint
    val base = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("row_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")).cast("long"))
    val baseN = base.count()
    val Seq(ev) = Par.materialize((if (replicate <= 1) base
      else spark.range(replicate).crossJoin(base)
        .withColumn("row_id", col("row_id") + col("id") * baseN).drop("id"))
      .repartition(32))
    val n = ev.count()
    val slice = n / appends
    println(s"[versioned] $n events, $appends appends of ~$slice rows each")
    for (i <- 0 until appends) {
      val (lo, hi) = (i * slice + 1, if (i == appends - 1) n else (i + 1) * slice)
      VersionedTable.commit(ev.filter(col("row_id").between(lo, hi)), root, "append",
        f"slice-$i%04d", statsCols = Seq("row_id"))
    }
    // probe = one middle slice
    val (lo, hi) = (slice * (appends / 2) + 1, slice * (appends / 2 + 1))
    val kept = VersionedTable.planRange(root, "row_id", lo, hi)
    println(s"[versioned] probe [$lo, $hi]: planRange keeps ${kept.size} of $appends dirs")
    def agg(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.filter(col("row_id").between(lo, hi))
        .agg(count(lit(1)), sum(col("row_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    for (pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val full = agg(VersionedTable.read(spark, root))
      val t1 = System.nanoTime()
      val pruned = {
        val r = VersionedTable.readRange(spark, root, "row_id", lo, hi)
          .agg(count(lit(1)), sum(col("row_id"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val t2 = System.nanoTime()
      assert(full == pruned, s"pruned result $pruned != full $full")
      println(f"[versioned] pass$pass full ${(t1 - t0) / 1e9}%.2f s | " +
        f"pruned ${(t2 - t1) / 1e9}%.2f s | rows ${full._1}")
    }

    // ---- phase 2 (round 12): FILE-level skipping inside ONE commit ------
    // The dual shape: one big commit of `appends` range-disjoint FILES
    // (a compacted table, or one bulk load) — dir-level stats are useless
    // (1 dir spanning everything); only the _filestats side file can
    // confine the scan. Same probe, same control equality.
    val root2 = s"$root-files"
    val root2Path = java.nio.file.Paths.get(root2)
    if (java.nio.file.Files.exists(root2Path)) {
      import scala.jdk.CollectionConverters._
      val w = java.nio.file.Files.walk(root2Path)
      try w.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally w.close()
    }
    VersionedTable.commit(ev.repartitionByRange(appends, col("row_id")), root2,
      "overwrite", "bulk-0001", statsCols = Seq("row_id"))
    val (fKept, fTotal) = VersionedTable.planRangeFiles(root2, "row_id", lo, hi)
    println(s"[versioned] file probe [$lo, $hi]: planRangeFiles keeps $fKept of $fTotal files")
    for (pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val full = agg(VersionedTable.read(spark, root2))
      val t1 = System.nanoTime()
      val pruned = {
        val r = VersionedTable.readRange(spark, root2, "row_id", lo, hi)
          .agg(count(lit(1)), sum(col("row_id"))).head()
        (r.getLong(0), r.getLong(1))
      }
      val t2 = System.nanoTime()
      assert(full == pruned, s"file-pruned result $pruned != full $full")
      println(f"[versioned] files pass$pass full ${(t1 - t0) / 1e9}%.2f s | " +
        f"pruned ${(t2 - t1) / 1e9}%.2f s | rows ${full._1}")
    }
    spark.stop()
  }
}
