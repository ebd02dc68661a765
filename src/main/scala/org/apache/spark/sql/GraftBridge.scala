package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters so the engine can
  * expose native Catalyst expressions as `Column`s (Spark 4 moved `Column` to
  * sql-api; `classic.ExpressionUtils` is the supported internal shim).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `types.AbstractDataType` is `private[sql]`, but `ExpectsInputTypes.
    * inputTypes` is typed in terms of it — alias it out so the engine's
    * native expressions can declare their input types.
    */
  type AbsDataType = org.apache.spark.sql.types.AbstractDataType

  /** `schema` with every field, element and value nullable
    * (`StructType.asNullable` is `private[spark]`): the form Spark's file
    * sources give a data schema, whatever nullability the writer recorded.
    */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** Block until every listener event posted so far has been delivered
    * (`listenerBus` is `private[spark]`), so a listener's counters include
    * every job and task that ran before the call.
    */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
