package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for wrapping a catalyst Expression into a public Column — the
  * constructor is private[sql] in Spark 4, so the shim lives in the sql
  * package (the conventional extension-library pattern).
  */
object GraftColumnShim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
