package org.apache.spark.sql

/** The one `private[sql]` hop a DSv1 streaming [[org.apache.spark.sql.execution.streaming.Source]]
  * cannot avoid: `MicroBatchExecution` rejects a `getBatch` result
  * whose plan is not flagged `isStreaming`, and the only way to set
  * the flag is `SparkSession.internalCreateDataFrame` — exactly how
  * Spark's own `FileStreamSource` marks its batches. The other
  * members are the same kind of hop for the batch read and DML paths. */
object GraftStreamingShim {
  def asStreaming(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = true)

  /** The inverse hop, for the SINK side: `Sink.addBatch` receives a
    * frame still flagged `isStreaming`, on which `.write` refuses —
    * re-wrap its executed plan as a batch frame (Delta's sink does
    * exactly this). The RDD is the micro-batch's physical plan, so
    * re-evaluation recomputes the batch — callers should evaluate it
    * once. */
  def asBatch(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema, isStreaming = false)

  /** `classic.Dataset.ofRows` is `private[sql]`: the SQL DML commands
    * (UPDATE/MERGE INTO, `graft.sources.GraftDml`) carry the MERGE
    * source as the analyzer-resolved LogicalPlan and must evaluate it
    * at run() time — the same hop Delta's MergeIntoCommand takes. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `StructType.asNullable` is `private[spark]`: a file relation's
    * data schema is nullable all the way down, as
    * `DataSource.resolveRelation` makes it
    * (`graft.ingest.Footers.relation`). */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable
}
