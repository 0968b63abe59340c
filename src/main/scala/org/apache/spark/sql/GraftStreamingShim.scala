package org.apache.spark.sql

/** The `private[sql]` hops the graft sources cannot avoid, each the
  * same one Spark's own sources or Delta take. */
object GraftStreamingShim {
  /** The SINK side: `Sink.addBatch` receives a frame still flagged
    * `isStreaming`, on which `.write` refuses — re-wrap its executed
    * plan as a batch frame (Delta's sink does exactly this). The RDD
    * is the micro-batch's physical plan, so re-evaluation recomputes
    * the batch — callers should evaluate it once. */
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

  /** `classic.ExpressionUtils.column` is `private[sql]`: the SQL DML
    * commands hand the analyzer's resolved expressions to the
    * copy-on-write primitives as columns (`graft.sources.GraftDml`). */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** `StructType.asNullable` is `private[spark]`: a file relation's
    * data schema is nullable all the way down, as
    * `DataSource.resolveRelation` makes it
    * (`graft.ingest.Footers.relation`). */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** `DataSourceStrategy.translateFilter` is `protected[sql]`: it is the
    * translation that turns a resolved predicate into the V1 filter a
    * scan receives as pushed, and manifest pruning reads stat ranges
    * from exactly those filters (`graft.ingest.Snapshots.statRanges`).
    * Top-level columns only, named as the plan names them. */
  def translateFilter(e: catalyst.expressions.Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = false)
}
