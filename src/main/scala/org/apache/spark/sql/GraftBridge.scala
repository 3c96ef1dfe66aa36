package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Access bridge for the `private[sql]` Column<->Expression converters —
  * the supported way for libraries to surface custom Catalyst expressions
  * as user-facing Columns on classic (non-Connect) Spark — for the kernels'
  * `private[sql]` input-type vocabulary, and for the file index's
  * `private[spark]` hidden-name rule.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** An `ExpectsInputTypes.inputTypes` entry: one concrete type or a `oneOf` set. */
  type InputType = types.AbstractDataType
  def oneOf(ts: types.DataType*): InputType = types.TypeCollection(ts: _*)

  /** Fully convert a Column's node tree to a Catalyst expression —
    * `expression` wraps lazily (fine inside DataFrame plans, which convert
    * at analysis), but a FunctionBuilder result must already BE a plain
    * expression tree or codegen later trips on the wrapper node.
    */
  def expressionDeep(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** True for a file or directory name Spark's file index never lists
    * (`_SUCCESS`, `.crc` files, `_temporary`), summary files excepted.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
