package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native dot product of two numeric array columns with DOUBLE
 * accumulation — a codegen'd Catalyst expression replacing the
 * interpreted `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, +)` HOF
 * pipeline in the similarity/embedding hot path (HOFs are
 * CodegenFallback: ~100ns+ of interpreter dispatch per element; this
 * compiles to a tight Java loop inside whole-stage codegen).
 *
 * Semantics are EXACTLY the HOF form's, so oracle results stay
 * bit-identical:
 *  - null array on either side → null;
 *  - different lengths → null (zip_with pads the shorter side with null,
 *    the null product poisons the running sum);
 *  - any null ELEMENT → null (same poisoning);
 *  - each element is cast to double BEFORE multiplying, and products
 *    accumulate left-to-right in index order — the identical float-op
 *    sequence, hence identical rounding.
 */
final case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def elemOf(e: Expression): Option[DataType] = e.dataType match {
      case ArrayType(et, _) => Some(et)
      case _                => None
    }
    (elemOf(left), elemOf(right)) match {
      case (Some(a: NumericType), Some(b: NumericType)) =>
        val _ = (a, b)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"array_dot needs two numeric arrays, got ${left.dataType.sql} and ${right.dataType.sql}")
    }
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (xs, ys) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    val (lt, rt) = (elemType(left), elemType(right))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i) || ys.isNullAt(i)) return null
      acc += numAt(xs, i, lt) * numAt(ys, i, rt)
      i += 1
    }
    acc
  }

  private def numAt(ad: ArrayData, i: Int, t: DataType): Double = t match {
    case FloatType   => ad.getFloat(i).toDouble
    case DoubleType  => ad.getDouble(i)
    case IntegerType => ad.getInt(i).toDouble
    case LongType    => ad.getLong(i).toDouble
    case ShortType   => ad.getShort(i).toDouble
    case ByteType    => ad.getByte(i).toDouble
    case d: DecimalType => ad.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalStateException(s"array_dot: unsupported element $other")
  }

  /** Java accessor expression for element i of `arr` with type `t`,
    * widened to double — mirrors numAt. */
  private def getterJava(arr: String, i: String, t: DataType): String = t match {
    case FloatType   => s"(double) $arr.getFloat($i)"
    case DoubleType  => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
    case ShortType   => s"(double) $arr.getShort($i)"
    case ByteType    => s"(double) $arr.getByte($i)"
    case d: DecimalType => s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
    case other => throw new IllegalStateException(s"array_dot: unsupported element $other")
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getA = getterJava(a, i, elemType(left))
      val getB = getterJava(b, i, elemType(right))
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ($getA) * ($getB);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "array_dot"
}

object ArrayDot {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-API face: `dot(a, b)` as a codegen'd expression. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      ArrayDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
