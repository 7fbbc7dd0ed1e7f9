package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark 4's classic-backend Column↔Expression conversion,
  * which is `private[sql]`. Lives under org.apache.spark.sql to gain
  * access — the only Spark-internal surface the engine touches. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AbstractDataType` is `private[sql]`; expressions outside the
    * spark package need this alias to declare `ExpectsInputTypes`
    * input types (analysis-time type checks). */
  type InputType = org.apache.spark.sql.types.AbstractDataType
}
