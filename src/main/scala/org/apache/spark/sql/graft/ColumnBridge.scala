package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ClassicConversions
import org.apache.spark.sql.classic.ColumnConversions

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * Spark 4 made the Column companion private[sql] (Columns are
  * ColumnNode-based for Connect); classic-mode libraries adding custom
  * expressions bridge from inside the sql package — the same pattern
  * spark connectors use. Like every graft file in Spark's namespace, it
  * only delegates, here to the two public classic converters.
  */
object ColumnBridge {
  def column(e: Expression): Column = ClassicConversions.ColumnConstructorExt(Column)(e)
  def expression(c: Column): Expression = ColumnConversions.expression(c)
}
