package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Access to `private[sql]` session internals needed by the streaming
 * sink (same trick the reference plays by living partly in
 * `org.apache.spark.qbeast` — see its `core/src/main/scala/org/apache/
 * spark/qbeast/config/config.scala`). */
object GraftShims {

  /** Re-wrap a micro-batch's rows as a non-streaming DataFrame. */
  def asBatchDataFrame(df: DataFrame): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = classicDf.sparkSession
    spark.internalCreateDataFrame(
      classicDf.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Inverse of [[asBatchDataFrame]]: tag a batch plan's rows as a
   * streaming DataFrame — what a V1 `Source.getBatch` must return
   * (StreamExecution asserts `isStreaming`). */
  def asStreamingDataFrame(df: DataFrame): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    val spark = classicDf.sparkSession
    spark.internalCreateDataFrame(
      classicDf.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Empty streaming-tagged frame with the given schema (a micro-batch
   * that admitted no files). */
  def emptyStreamingDataFrame(spark: SparkSession, schema: StructType): DataFrame = {
    val classicSpark = spark.asInstanceOf[classic.SparkSession]
    classicSpark.internalCreateDataFrame(
      classicSpark.sparkContext.emptyRDD[InternalRow], schema, isStreaming = true)
  }

  /** `CatalogV2Util` is `private[sql]`; the staged-table legacy entry
   * points need the StructType → Column[] conversion. */
  def structTypeToV2Columns(schema: StructType)
      : Array[org.apache.spark.sql.connector.catalog.Column] =
    org.apache.spark.sql.connector.catalog.CatalogV2Util.structTypeToV2Columns(schema)

  /** Column ↔ Expression bridges (`ExpressionUtils` is `private[sql]`)
   * for the custom codegen expressions. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Add a closed file's bytes and rows to the running task's output
   * metrics (their setters are `private[spark]`). A writer that drives
   * an `OutputWriter` from its own tasks bypasses `FileFormatWriter`,
   * which is what records them for listeners and the UI otherwise. */
  def addTaskOutput(bytes: Long, records: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { tc =>
      val m = tc.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** `df`'s rows from a physical plan prepared WITHOUT adaptive
   * execution. Adaptive execution runs every exchange as a Spark job of
   * its own before the job that consumes the result; here each exchange
   * is a stage of the one job that consumes the returned RDD. Cached
   * relations the plan reads are built inside that job too. */
  def executeOnce(df: DataFrame): RDD[InternalRow] = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    org.apache.spark.sql.execution.QueryExecution
      .prepareExecutedPlan(c.sparkSession, c.queryExecution.optimizedPlan).execute()
  }

  /** A batch DataFrame over already-computed rows of `schema`. */
  def frameOf(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rows, schema, isStreaming = false)

  /** Wrap an analyzed LogicalPlan as a DataFrame (`Dataset.ofRows` is
   * `private[sql]`) — the MERGE source side arrives as a plan. */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

}
