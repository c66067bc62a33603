package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Column<->Expression bridge + function registration for the graft engine.
  * Lives in the spark.sql package to reach the classic converters — the
  * standard pattern for Spark extension libraries (Delta, Sedona, etc.). */
object GraftInternal {
  def col(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
  /** s with every field, array element and map value nullable. */
  def asNullable(s: types.StructType): types.StructType = s.asNullable

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      builder)
  }
}
