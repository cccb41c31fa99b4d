package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Spark 4 removed the public Expression↔Column constructors
  * (`new Column(expr)` / `col.expr`); the supported path,
  * `classic.ExpressionUtils`, is `private[sql]`. This bridge re-exports
  * the two conversions for graft's custom Catalyst expressions — the same
  * technique Spark connector libraries use.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field nullable, nested ones too (Spark's
    * `private[spark]` `asNullable`): what a file reader can promise once
    * files predate columns or nested fields.
    */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
