package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Table-format abstraction for the gold layer.
  *
  * The reference writes gold as Delta partitioned by year/month/day with full
  * overwrite (codes/silverToGold.scala:26) and re-reads it for serving
  * (codes/goldToCosmosdb.scala:24-25). No Delta-only feature (time travel,
  * MERGE) is ever exercised (reference README.md:1226), so the observable
  * semantics are: partitioned columnar layout + overwrite + partition-column
  * recovery on read. Those are preserved here over plain Parquet; a Delta
  * implementation can be slotted in where the jar is available.
  *
  * 100 TB notes: the reference's `coalesce(1)` is a small-data convenience,
  * not a semantic requirement — at scale it would serialize the final stage
  * through one task. We keep write parallelism and bound file sizes with
  * `maxRecordsPerFile` instead. Overwrite defaults to dynamic partition
  * overwrite so a daily run replaces only the partitions it produced rather
  * than truncating the whole table.
  */
trait TableFormat {
  def write(df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
            mode: SaveMode = SaveMode.Overwrite, maxRecordsPerFile: Long = 0L): Unit
  def read(spark: SparkSession, path: String): DataFrame
}

object ParquetTableFormat extends TableFormat {
  override def write(df: DataFrame, path: String, partitionCols: Seq[String],
                     mode: SaveMode, maxRecordsPerFile: Long): Unit = {
    var w = df.write.mode(mode).format("parquet").option("partitionOverwriteMode", "dynamic")
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (partitionCols.nonEmpty) w = w.partitionBy(partitionCols: _*)
    w.save(path)
  }

  /** Partition columns are recovered from the hive-style directory layout,
    * which is what enables partition pruning on year/month/day predicates
    * downstream (SURVEY.md §4.1).
    */
  override def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format("parquet").load(path)
}
