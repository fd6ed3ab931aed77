package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The one Spark-internal touchpoint of the versioned-table STREAMING
  * SOURCE: a v1 `Source.getBatch` must return a DataFrame whose leaves are
  * flagged `isStreaming = true` (MicroBatchExecution stitches the batch's
  * logical plan into the streaming plan and asserts the flag), and the only
  * way to produce one from an arbitrary batch plan is the
  * `internalCreateDataFrame(rdd, schema, isStreaming = true)` idiom every
  * built-in v1 source uses (FileStreamSource, KafkaSource). That method is
  * `private[sql]`, so this shim lives in a subpackage of
  * `org.apache.spark.sql` — the standard community-connector pattern — and
  * keeps the rest of the engine free of Spark internals.
  */
object GraftStreamingBridge {

  /** Re-flag a batch DataFrame as a streaming one. The RDD is the batch
    * plan's compiled output, so per-batch execution stays whole-stage
    * codegen'd; planning happens once here, at getBatch time.
    */
  def asStreamingDf(df: DataFrame): DataFrame = {
    val classic = df.asInstanceOf[ClassicDataset[Row]]
    val session = classic.sparkSession.asInstanceOf[ClassicSparkSession]
    session.internalCreateDataFrame(classic.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse, for the versioned-table streaming SINK: a v1
    * `Sink.addBatch` receives the micro-batch as a Dataset over the
    * stream's IncrementalExecution, on which ordinary write actions
    * refuse ("streaming source must be executed with writeStream"). The
    * idiom every v1 sink uses is to consume the already-planned
    * `toRdd` under a fresh BATCH frame — planning happened once in the
    * stream, the commit path just drains it.
    */
  def asBatchDf(df: DataFrame): DataFrame =
    GraftRowsBridge.frame(df.sparkSession,
      df.asInstanceOf[ClassicDataset[Row]].queryExecution.toRdd, df.schema)
}

/** A batch DataFrame over an RDD of Catalyst rows, for library passes that
  * run on plain RDDs (`internalCreateDataFrame` is `private[sql]`).
  */
object GraftRowsBridge {
  def frame(spark: org.apache.spark.sql.SparkSession,
            rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
            schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[ClassicSparkSession].internalCreateDataFrame(rows, schema, isStreaming = false)
}

/** Column ↔ Catalyst Expression conversion (`private[sql]` in Spark 4's
  * classic module, hence bridged here): the engine builds a handful of
  * native expressions a DataFrame API Column cannot express — e.g. the
  * positional-deletion-vector predicate, which carries a driver-resolved
  * lookup structure no SQL-registered function signature can take.
  */
object GraftColumnBridge {
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
