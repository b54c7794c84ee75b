package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Compiled matrix-vector product for the banded-LSH projection: maps a
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
 *  - an empty or ragged weight matrix is rejected when the Column is
 *    built.
 */
object MatVecSums {

  /** Column face: all plane sums of `vec` through the literal matrix
    * `weights(i)(p)` (vector position i, plane p). The matrix is a
    * constant argument compared by reference, so callers pass one
    * shared instance per matrix (Similarity.planeMatrix) and repeated
    * sums over the same vector dedupe in subexpression elimination. */
  def sums(vec: Column, weights: Array[Array[Double]]): Column = {
    require(weights.nonEmpty && weights.forall(_.length == weights.head.length),
      "weights must be a non-empty rectangular matrix")
    ColumnBridge.invoke(this, "compute", ArrayType(DoubleType, containsNull = true),
      Kernel.typed(vec),
      Seq(Kernel.obj(weights, classOf[Array[Array[Double]]])))
  }

  /** The kernel (`vecType` is the column's `typeof()` name). */
  def compute(xs: ArrayData, vecType: UTF8String,
              weights: Array[Array[Double]]): ArrayData = {
    val (dim, nPlanes) = (weights.length, weights(0).length)
    val n = xs.numElements()
    if (n > dim) return null
    val acc = new Array[Double](nPlanes)
    if (n == dim) { // a shorter vector keeps the all-zeros init
      val num = Kernel.elements(vecType)
      var i = 0
      while (i < dim) {
        if (xs.isNullAt(i)) return boxed(new Array[Double](nPlanes))
        val x = num.at(xs, i)
        val row = weights(i)
        var p = 0
        while (p < nPlanes) { acc(p) += x * row(p); p += 1 }
        i += 1
      }
    }
    boxed(acc)
  }

  private def boxed(acc: Array[Double]): ArrayData =
    new GenericArrayData(acc.map(Double.box): Array[Any])
}
