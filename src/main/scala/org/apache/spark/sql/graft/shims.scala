package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface needed to expose a custom
  * Catalyst Expression as a user-facing Column in Spark 4.x (the
  * classic Column-from-Expression constructor moved behind the Spark
  * Connect refactor). Standard extension-library shim pattern.
  */
object SqlShims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap an analyzed/optimized LogicalPlan back into a DataFrame —
    * the bridge an optimizer rule needs to COMPOSE a replacement
    * subtree with the DataFrame API instead of hand-assembling joins
    * and aggregates from catalyst nodes (the guaranteed-k ladder
    * rewrite builds a 4-way join/aggregate/union plan; at that size
    * the DSL is the maintainable construction and the analyzer does
    * the attribute plumbing). `Dataset.ofRows` moved behind
    * `private[sql]` in the Spark-Connect refactor, same as the Column
    * constructor above. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df`'s rows as a leaf plan that reports a LocalRelation's size
    * estimate (the schema's default row size × `rows`, the caller's
    * exact row count) instead of the unknown-size default of an
    * RDD-backed plan, so size-driven choices (broadcast joins,
    * [[graft.index.LshIndexStore.adaptivePartitions]]) treat a frame
    * built from driver rows the way they treat a local one. */
  def sizedFrame(df: org.apache.spark.sql.DataFrame, rows: Long): org.apache.spark.sql.DataFrame = {
    val session = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val output = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(df.schema)
    val size = org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      .getSizePerRow(output) * rows
    ofRows(session, org.apache.spark.sql.execution.LogicalRDD(output, df.queryExecution.toRdd)(
      session, Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(sizeInBytes = size))))
  }

  /** The session's stable UUID (`private[sql]` since the Connect
    * refactor) — the serving-manifest holder identity for
    * [[graft.index.IndexGenerations]]'s cross-JVM lease protocol. */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String = spark match {
    case c: org.apache.spark.sql.classic.SparkSession => c.sessionUUID
    case other => "session-" + Integer.toHexString(System.identityHashCode(other))
  }

  /** Serializable, lazily-codegen'd row ordering for custom physical
    * operators (the same mechanism TakeOrderedAndProjectExec uses). */
  def rowOrdering(sortOrder: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder],
                  input: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
  : Ordering[org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering(sortOrder, input)
}
