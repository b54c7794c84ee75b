package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Codegen'd matrix-vector product for the banded-LSH projection: maps a
 * numeric vector column through a LITERAL weight matrix
 * (`weights(i)(p)` = plane p's weight for vector position i) to the
 * array of all nPlanes signed projections in one compiled pass —
 * replacing Similarity.planeSums's interpreted
 * zip_with→transform→aggregate→zip_with HOF tower.
 *
 * Exact-semantics contract with the HOF form (pinned by MatVecSumsSpec,
 * bit-for-bit — the LSH signatures and therefore the oracle results
 * depend on it):
 *  - per plane p, products accumulate over i ascending:
 *    acc(p) += toDouble(v(i)) * weights(i)(p) — identical op order and
 *    rounding;
 *  - null vector → null result;
 *  - vector LONGER than the matrix → null result (zip_with pads the
 *    weight side with a null ROW, transform(null) is null, and a null
 *    array poisons the whole fold);
 *  - vector SHORTER (incl. empty), or any null ELEMENT at any position →
 *    an all-ZEROS array, exactly the fold's init (measured empirically —
 *    tools/HofProbe @0fcdae9 — and pinned side-by-side in MatVecSumsSpec; the
 *    practical effect either way is the all-zero LSH signature);
 *  - empty weight matrix is rejected at construction.
 */
final case class MatVecSums(child: Expression, weights: Array[Array[Double]])
    extends UnaryExpression {

  require(weights.nonEmpty && weights.forall(_.length == weights.head.length),
    "weights must be a non-empty rectangular matrix")
  private val dim = weights.length
  private val nPlanes = weights.head.length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: NumericType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"matvec_sums needs a numeric array, got ${other.sql}")
    }

  private def elemType: DataType = child.dataType.asInstanceOf[ArrayType].elementType

  /** nPlanes zeros — the poisoned result for malformed vectors (the
    * HOF fold's init; see the class doc). */
  private lazy val allZero: ArrayData =
    new GenericArrayData(Array.fill[Any](nPlanes)(Double.box(0.0)))

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    if (xs.numElements() > dim) return null
    if (xs.numElements() < dim) return allZero
    val et = elemType
    val acc = new Array[Double](nPlanes)
    var i = 0
    while (i < dim) {
      if (xs.isNullAt(i)) return allZero
      val x = et match {
        case FloatType   => xs.getFloat(i).toDouble
        case DoubleType  => xs.getDouble(i)
        case IntegerType => xs.getInt(i).toDouble
        case LongType    => xs.getLong(i).toDouble
        case ShortType   => xs.getShort(i).toDouble
        case ByteType    => xs.getByte(i).toDouble
        case d: DecimalType => xs.getDecimal(i, d.precision, d.scale).toDouble
        case other => throw new IllegalStateException(s"matvec_sums: unsupported $other")
      }
      val row = weights(i)
      var p = 0
      while (p < nPlanes) { acc(p) += x * row(p); p += 1 }
      i += 1
    }
    new GenericArrayData(acc.map(Double.box): Array[Any])
  }

  private def getterJava(arr: String, i: String): String = elemType match {
    case FloatType   => s"(double) $arr.getFloat($i)"
    case DoubleType  => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType    => s"(double) $arr.getLong($i)"
    case ShortType   => s"(double) $arr.getShort($i)"
    case ByteType    => s"(double) $arr.getByte($i)"
    case d: DecimalType => s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
    case other => throw new IllegalStateException(s"matvec_sums: unsupported $other")
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val w = ctx.addReferenceObj("weights", weights, "double[][]")
      val zeroArr = ctx.addReferenceObj("allZero", allZero,
        classOf[ArrayData].getName)
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val bad = ctx.freshName("bad")
      val boxed = ctx.freshName("boxed")
      val gad = classOf[GenericArrayData].getName
      val x = ctx.freshName("x")
      val row = ctx.freshName("row")
      s"""
         |if ($v.numElements() > $dim) {
         |  ${ev.isNull} = true;
         |} else {
         |  boolean $bad = ($v.numElements() < $dim);
         |  double[] $acc = new double[$nPlanes];
         |  if (!$bad) {
         |    for (int $i = 0; $i < $dim; $i++) {
         |      if ($v.isNullAt($i)) { $bad = true; break; }
         |      final double $x = ${getterJava(v, i)};
         |      final double[] $row = $w[$i];
         |      for (int $p = 0; $p < $nPlanes; $p++) { $acc[$p] += $x * $row[$p]; }
         |    }
         |  }
         |  if ($bad) {
         |    ${ev.value} = $zeroArr;
         |  } else {
         |    Object[] $boxed = new Object[$nPlanes];
         |    for (int $p = 0; $p < $nPlanes; $p++) { $boxed[$p] = Double.valueOf($acc[$p]); }
         |    ${ev.value} = new $gad($boxed);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MatVecSums =
    copy(child = newChild)

  override def prettyName: String = "matvec_sums"

  // Structural equality: the case-class default compares the
  // Array[Array[Double]] field by REFERENCE, so two structurally
  // identical instances would never be equal and Catalyst
  // canonicalization / subexpression elimination could not dedupe them.
  override def equals(other: Any): Boolean = other match {
    case m: MatVecSums =>
      child == m.child && java.util.Arrays.deepEquals(
        weights.asInstanceOf[Array[AnyRef]], m.weights.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(weights.asInstanceOf[Array[AnyRef]])
}

object MatVecSums {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column face: all plane sums of `vec` through the literal matrix
    * `weights(i)(p)` (vector position i, plane p). */
  def sums(vec: Column, weights: Array[Array[Double]]): Column =
    ColumnBridge.column(MatVecSums(ColumnBridge.expression(vec), weights))
}
