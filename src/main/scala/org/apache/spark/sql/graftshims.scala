package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge to `private[sql]` Spark internals that third-party
 * Catalyst extensions need: the Column <-> Expression converters and the
 * `AbstractDataType` family used by `ExpectsInputTypes`. This is the
 * conventional extension-point shim (same pattern as Delta Lake / frameless);
 * nothing here copies Spark code, it only re-exports access.
 */
object graftshims {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The schema with every field nullable — what a file source read
    * declares as its data schema (`DataSource.resolveRelation`). */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** Drain the shared listener bus — lets tests assert deterministically on
    * SparkListener-observed state (job counts etc.). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Unpersist the RDD behind a `localCheckpoint`ed Dataset. A checkpoint
    * pins its materialized RDD in executor storage until the driver GCs
    * the Dataset and the ContextCleaner catches up — an iterative
    * algorithm (label propagation) checkpointing per round would pile up
    * one full copy per round. `blocking` waits until the blocks are
    * removed. No-op for non-checkpoint plans. */
  def unpersistCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking)
      case _ =>
    }
}
