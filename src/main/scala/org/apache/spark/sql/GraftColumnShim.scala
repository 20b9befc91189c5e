package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Bridge to the package-private Column ↔ Expression converters
  * (Spark 4 moved Column onto ColumnNode; `classic.ExpressionUtils` is
  * private[sql]). Lives in the spark.sql package for access — the one
  * place the library reaches into Spark internals: it exposes every
  * [[graft.expressions.NativeKernel]] as a Column and builds the Bloom
  * filter expressions of [[graft.operators.Bloom]].
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** An input type accepting any of `types` (TypeCollection is private[sql]). */
  def anyOf(types: DataType*): AbstractDataType = TypeCollection(types: _*)
}
