package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy

/** Bridge for wrapping a catalyst Expression into a public Column — the
  * constructor is private[sql] in Spark 4, so the shim lives in the sql
  * package (the conventional extension-library pattern) — and for the
  * data source filter Spark pushes for a predicate, also private[sql].
  */
object GraftColumnShim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The `sources.Filter` Spark pushes to a data source for `e`, if any;
    * `nested` names nested columns as a file source that supports them. */
  def translateFilter(e: Expression, nested: Boolean): Option[sources.Filter] =
    DataSourceStrategy.translateFilter(e, nested)
}
