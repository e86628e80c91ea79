package org.apache.spark.sql.graft

import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** private[sql] seams a V1 streaming Source needs: `getBatch` must hand
  * MicroBatchExecution a DataFrame whose logical plan carries
  * `isStreaming = true`, and the only constructors for such plans
  * (`LogicalRelation(_, isStreaming)`, streaming `LocalRelation`,
  * `Dataset.ofRows`) are private[sql]. This is exactly how Spark's own
  * FileStreamSource builds its batches
  * (spark/sql/core/.../streaming/sources/FileStreamSource.scala); the
  * shim lives under org.apache.spark.sql for access, like
  * [[ColumnBridge]]. */
object StreamBridge {

  /** A STREAMING-tagged parquet batch over an explicit file list with a
    * declared schema (partition columns resolve from the Hive layout
    * when `basePath` is set) — the change-feed stream's read shape. */
  def streamingParquet(spark: SparkSession, paths: Seq[String],
                       schema: StructType, basePath: Option[String]): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ds = org.apache.spark.sql.execution.datasources.DataSource(
      cs, className = "parquet", paths = paths,
      userSpecifiedSchema = Some(schema),
      options = basePath.map("basePath" -> _).toMap)
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        ds.resolveRelation(checkFilesExist = false), isStreaming = true))
  }

  /** A Parquet scan over a prepared file index (Delta's log-backed one):
    * the relation Spark's own reader would build, minus the listing.
    * Streaming-tagged when `isStreaming`, for a V1 source's `getBatch`. */
  def parquetOver(spark: SparkSession,
                  index: org.apache.spark.sql.execution.datasources.FileIndex,
                  dataSchema: StructType, isStreaming: Boolean): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = HadoopFsRelation(index, index.partitionSchema, dataSchema, bucketSpec = None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map.empty)(cs)
    org.apache.spark.sql.classic.Dataset.ofRows(cs, LogicalRelation(rel, isStreaming))
  }

  /** The BATCH twin of a micro-batch's streaming DataFrame — what a V1
    * `Sink.addBatch` needs before it can `.write` the data (calling
    * write on the streaming-tagged frame is
    * CALL_ON_STREAMING_DATASET_UNSUPPORTED). Exactly ForeachBatchSink's
    * own construction: the incremental execution's `toRdd` wrapped in a
    * non-streaming `LogicalRDD`, so the sink re-plans nothing and reads
    * only this trigger's data. */
  def asBatch(data: DataFrame): DataFrame = {
    val ds = data.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, node)
  }

  /** A DataFrame over an analyzed logical plan — what a command holding
    * a query plan as its child needs to hand that plan back to the
    * DataFrame API ([[graft.sql.DeltaMergeCommand]]'s source,
    * `DeltaInsertCommand`'s query). Same private[sql] seam as above. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** An empty STREAMING batch of `schema` (a trigger that found no new
    * data must still return a streaming-tagged frame). */
  def emptyStreaming(spark: SparkSession, schema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
        Nil, isStreaming = true))
  }
}
