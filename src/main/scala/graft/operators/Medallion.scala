package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The medallion transform chain, re-expressed as pure DataFrame => DataFrame
  * stages (reference notebooks codes/bronzeToSilver.scala, silverToGold.scala,
  * goldToSynapse.scala, goldToCosmosdb.scala).
  *
  * Determinism rules (SURVEY.md §7.4) applied throughout: as-of date is a
  * parameter, never current_date(); surrogate ids are row_number over an
  * explicit total order, never monotonically_increasing_id.
  */
object Medallion {

  /** Bronze→silver (codes/bronzeToSilver.scala:7-15): global dedup + sort.
    * distinct() is a group-by-all-columns aggregate: partial aggregation
    * happens map-side, so the shuffle carries only unique rows per partition.
    */
  def bronzeToSilver(bronze: DataFrame, sortCols: Seq[String]): DataFrame =
    bronze.distinct().orderBy(sortCols.map(col): _*)

  /** Silver→gold (codes/silverToGold.scala:10-26): per-key min/max/spread plus
    * as-of date columns. Catalyst plans this as partial+final HashAggregate —
    * one shuffle on the group key, map-side combine before it.
    */
  def silverToGold(silver: DataFrame, keyCol: String, valueCol: String, asOf: LocalDate): DataFrame = {
    val v = col(valueCol).cast(DecimalType(12, 2))
    silver
      .groupBy(col(keyCol))
      .agg(
        min(v).as("min_value"),
        max(v).as("max_value"))
      .withColumn("diff", (col("max_value") - col("min_value")).cast(DecimalType(12, 2)))
      .withColumn("as_of_year", lit(asOf.getYear))
      .withColumn("as_of_month", lit(asOf.getMonthValue))
      .withColumn("as_of_day", lit(asOf.getDayOfMonth))
      .orderBy(col(keyCol))
  }

  /** P5: cast every column to string, preserving names (reference
    * goldToSynapse.scala:28-34; decimal scale is preserved by casting the
    * already-DECIMAL(…,2) values, so "0.88" renders as "0.88" not "0.880").
    */
  def stringify(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)

  /** P4 (deterministic form): surrogate id as row_number over an explicit
    * total order. The reference's monotonically_increasing_id
    * (goldToSynapse.scala:27) is partition-dependent and unverifiable; this
    * form is stable under any partitioning.
    *
    * Scale note: a single un-partitioned window serializes through one task.
    * For the gold table (cardinality = #symbols) that is fine; for large
    * tables use [[withScalableSurrogateId]].
    */
  def withSurrogateId(df: DataFrame, orderCols: Seq[String]): DataFrame =
    df.withColumn("id", row_number().over(Window.orderBy(orderCols.map(col): _*)).cast("string"))
      .select(("id" +: df.columns.toIndexedSeq).map(col): _*)

  /** Scalable deterministic surrogate id: zipWithIndex-style two-pass scheme —
    * count rows per sorted partition, prefix-sum the counts on the driver
    * (O(#partitions)), then assign offsets per partition. Fully parallel, no
    * global window.
    *
    * The sorted frame is eagerly localCheckpoint'ed so the count pass and the
    * assignment pass read the SAME materialized partitions: without the cut,
    * each `.rdd` action re-executes repartitionByRange + sort from the
    * lineage — two full range-shuffles and sorts for one logical sort.
    */
  def withScalableSurrogateId(df: DataFrame, orderCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val Seq(sorted) = Par.materialize(df.repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*))
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, false) +:
        sorted.schema.fields.toSeq)
    val counts = sorted.rdd.mapPartitionsWithIndex { case (i, it) => Iterator((i, it.size.toLong)) }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(1L)(_ + _)
    val rows = sorted.rdd.mapPartitionsWithIndex { case (i, it) =>
      var n = offsets(i)
      it.map { r => val out = org.apache.spark.sql.Row.fromSeq(n +: r.toSeq); n += 1; out }
    }
    spark.createDataFrame(rows, schema)
  }
}
