package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Dataset constructor so graft's custom
  * logical operators (plans.TopKPerGroupPlan) can be wrapped back into a
  * public DataFrame, and into Spark's own schema-merge rule — the
  * standard extension-library shim; nothing else may live in this
  * package. */
object PlanShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap a catalyst Expression as a public Column (and back) — lets
    * graft's native expressions be used from the Column API without a
    * session-extension registry lookup. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** `base` merged with `next` by the rule parquet `mergeSchema`
    * inference applies (new fields appended, conflicting types throw),
    * every field nullable as a file-source scan reports it. */
  def mergeSchema(base: StructType, next: StructType, caseSensitive: Boolean): StructType =
    base.merge(next, caseSensitive).asNullable

  /** `s` with every field (nested ones too) nullable. */
  def asNullable(s: StructType): StructType = s.asNullable
}
