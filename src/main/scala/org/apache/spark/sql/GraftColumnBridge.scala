package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column ↔ Expression converters: the
  * one route from graft's queries to its native expressions (each
  * companion's typed Column builder, e.g. `WordShingles.shinglesCol`),
  * so building a frame never touches the session's function registry
  * and expressions whose constructors carry PLAN-TIME data (e.g. a
  * collected Bloom filter) need no SQL name. Placing one object inside
  * `org.apache.spark.sql` is the established pattern for Spark-native
  * libraries (Frameless, Sedona, Delta all ship the same shim); the
  * rest of graft stays in its own package and uses only this pair.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (custom-operator wiring). */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over an arbitrary logical plan (custom-operator wiring). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
