package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native dot product of two numeric array columns with DOUBLE
 * accumulation — a compiled kernel replacing the interpreted
 * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, +)` HOF pipeline in
 * the similarity/embedding hot path (HOFs are CodegenFallback: ~100ns+
 * of interpreter dispatch per element; this is one static call inside
 * whole-stage codegen running a tight loop).
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
object ArrayDot {

  /** Column-API face: `dot(a, b)` as one kernel call. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.invoke(this, "compute", DoubleType, Kernel.typed(a) ++ Kernel.typed(b))

  /** The kernel; `aType`/`bType` are the arrays' `typeof()` names. */
  def compute(a: ArrayData, aType: UTF8String,
              b: ArrayData, bType: UTF8String): java.lang.Double =
    accumulate(a, Kernel.elements(aType), b, Kernel.elements(bType))

  /** The dot loop over resolved element readers (BestCell's cosine
    * runs it too). Boxed: null on length mismatch or a null element. */
  private[functions] def accumulate(a: ArrayData, ra: Kernel.Reader,
                                    b: ArrayData, rb: Kernel.Reader): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += ra.at(a, i) * rb.at(b, i)
      i += 1
    }
    acc
  }
}
