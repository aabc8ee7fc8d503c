package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Access shim for Spark-private APIs needed by custom Catalyst
  * expressions (Column↔Expression bridging and the private[sql]
  * AbstractDataType) — the standard pattern for Spark extension
  * libraries: a tiny object inside the org.apache.spark.sql namespace.
  * Everything else in graft stays on public API. */
object Shim {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Register a function into an EXISTING session's registry (the
    * spark.sql.extensions config only applies at session build time). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** `a` merged with `b` the way parquet schema merging folds part-file
    * schemas (`StructType.merge`). */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean): org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)

  /** The type a union gives two columns whose types differ only in
    * nested nullability (`StructType.unionLikeMerge`), or None when they
    * differ otherwise. */
  def unionLikeMerge(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] =
    if (!org.apache.spark.sql.types.DataType.equalsIgnoreNullability(a, b)) None
    else Some(org.apache.spark.sql.types.StructType.unionLikeMerge(a, b))
}
