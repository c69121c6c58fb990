package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column<->Expression converters.
  *
  * Spark 4.x hides `Column(expr)` / `col.expr` behind the Spark
  * Connect-agnostic ColumnNode API; the classic converters still exist
  * (`org.apache.spark.sql.classic.ExpressionUtils`) but are
  * `private[sql]`. Declaring this object inside the `sql` package is
  * the standard extension-point pattern for libraries that build
  * native Catalyst expressions (the same access trick Spark's own
  * extensions tests use). Used by graft for the codegen'd
  * BloomFilterMightContain probe of the partitioned URL-seen filter.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `StructType.asNullable` is `private[spark]`: the schema Parquet
    * data files read back with (every field nullable). */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  /** `classic.Dataset.ofRows` is `private[sql]`: the DataFrame of a
    * hand-built logical plan (a command runs eagerly). The lake's
    * catalog-free table reads and bucketed writes are built this way. */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Install a SQL function into a LIVE session's function registry —
    * the runtime complement of SparkSessionExtensions.injectFunction
    * (which only fires at session build). `sessionState` is
    * `private[sql]`, hence this lives in the bridge. */
  def registerFunction(
      spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)
}
