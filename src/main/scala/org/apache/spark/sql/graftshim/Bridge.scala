package org.apache.spark.sql
package graftshim

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge into `private[sql]` Spark internals we legitimately need:
  * Column ↔ catalyst Expression conversion (Spark 4 moved Column onto
  * ColumnNode; `classic.ExpressionUtils` is the sanctioned converter but is
  * package-private). Lives under
  * `org.apache.spark.sql` solely to satisfy the access qualifier. */
object Bridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
