package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, TypeCollection}

/** Column <-> Expression bridge. Spark 4 made the Column/Expression
  * conversions private[sql] (Connect-compatible Column nodes); a library
  * contributing native Catalyst expressions to the DataFrame API needs this
  * two-liner inside the org.apache.spark.sql package, exactly like other
  * Catalyst-extending libraries do. No Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An expected input type, as `ExpectsInputTypes` takes it (the class is
    * private[sql] too). */
  type InputType = AbstractDataType
  /** The input type that accepts any of `types`. */
  def anyOf(types: DataType*): InputType = TypeCollection(types: _*)
}
