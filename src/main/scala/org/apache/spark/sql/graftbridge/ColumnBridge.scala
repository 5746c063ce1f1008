package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ⇄ Catalyst-Expression converters.
  *
  * Spark 4's public `Column` wraps a ColumnNode, not an Expression, so
  * planting a raw Catalyst expression (e.g. the internal codegen
  * `BloomFilterMightContain`, or the graft expressions behind the typed
  * `graft.expressions.GraftFunctions` columns and the tokenizers) into a
  * DataFrame needs the classic converter. This is the ONLY place the
  * engine reaches into Spark's private API surface, and only for the two
  * total functions below.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
