package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, NullType}

/**
 * How graft's row kernels become Columns. A kernel is a public method
 * on a `graft.functions` object that takes and returns Catalyst internal
 * values (`UTF8String`, `ArrayData`, `InternalRow`, primitives); its
 * Column face is one `StaticInvoke` of that method. Whole-stage codegen
 * emits a direct static call and interpreted eval reflects into the same
 * method, so both modes run one implementation.
 *
 * Spark 4 keeps the Column ⇄ Expression conversion
 * (`org.apache.spark.sql.classic.ExpressionUtils`) and the input-type
 * hooks of `AbstractDataType` behind `private[sql]`; a library reaches
 * them through a bridge object inside an `org.apache.spark.sql`
 * subpackage — the pattern Spark connector/extension libraries use.
 */
object ColumnBridge {

  /** Input type of a kernel's column argument: accepts exactly the data
    * types `accepts` holds for (nullability ignored) and never asks the
    * analyzer for an implicit cast — its concrete type is NULL, which it
    * rejects — so a wrong-typed argument, a NULL literal included, fails
    * analysis with an `AnalysisException` naming `name`. */
  final case class InputType(name: String)(val accepts: DataType => Boolean)
      extends AbstractDataType {
    override private[sql] def defaultConcreteType: DataType = NullType
    override private[sql] def acceptsType(other: DataType): Boolean = accepts(other)
    override private[sql] def simpleString: String = name
  }

  /** `kernel.fn(columns ++ constants)` as one `StaticInvoke` returning
    * `dataType`. Each column is checked against its input type at
    * analysis; constants go in as they are. With `propagateNull` a null
    * column yields null without a call; kernels whose result on null
    * input is not null take `propagateNull = false` and handle the null
    * themselves. */
  def invoke(kernel: AnyRef, fn: String, dataType: DataType,
             columns: Seq[(Column, InputType)], constants: Seq[Literal] = Nil,
             propagateNull: Boolean = true,
             returnNullable: Boolean = true): Column =
    ExpressionUtils.column(StaticInvoke(kernel.getClass, dataType, fn,
      columns.map(c => ExpressionUtils.expression(c._1)) ++ constants,
      columns.map(_._2) ++ constants.map(_.dataType),
      propagateNull, returnNullable))
}
