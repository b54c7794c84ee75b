package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-vector L2 norm + unit vector in ONE compiled pass —
 * struct(norm = sqrt(Σ x_i²), unit = x_i/norm doubles) — the kernel of
 * Similarity.l2NormalizeVectors, replacing the sqrt(ArrayDot) +
 * interpreted ArrayTransform divide it composed before (ArrayTransform
 * is CodegenFallback — one evaluator dispatch per element for the
 * divide, while the norm side was already compiled). Normalization is
 * the hygiene pass billed to run over a whole 100 TB embedding column
 * before any cosine machinery, so like quantization its per-element
 * cost is the bill.
 *
 * Exact-semantics contract with the composed form it replaced (pinned
 * in CurationOpsSpec equivalence + L2NormalizeSpec):
 *  - norm accumulates x_i² in double, LEFT-TO-RIGHT in index order,
 *    then one sqrt — the identical float-op sequence as
 *    sqrt(array_dot(v, v)), hence identical rounding (and identical to
 *    the DuckDB list_reduce fold the oracle replays);
 *  - any null ELEMENT → norm null AND unit null (ArrayDot's poisoning
 *    rule: a null product poisons the running sum);
 *  - a zero (or empty) vector keeps norm 0.0 for diagnosis but cannot
 *    be normalized: unit is null — matching `when(norm > 0, ...)`. A
 *    NaN norm (NaN element) PASSES that guard (Spark SQL compares with
 *    nanSafeCompareDoubles — NaN is greater than every double, as in
 *    the DuckDB oracle) and emits the all-NaN unit;
 *  - NULL vector → NULL struct. Accepts any numeric element type
 *    (cast-to-double per element, ArrayDot's discipline).
 */
object L2Normalize {

  /** The kernel (`vecType` is the column's `typeof()` name): one pass
    * for the left-to-right Σx² (null element poisons → null norm, null
    * unit), one for the divides — no per-element dispatch. */
  def compute(xs: ArrayData, vecType: UTF8String): InternalRow = {
    val num = Kernel.elements(vecType)
    val n = xs.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) return InternalRow(null, null)
      val x = num.at(xs, i)
      acc += x * x
      i += 1
    }
    val norm = math.sqrt(acc)
    // Only an exactly-zero norm nulls the unit. A NaN norm (NaN
    // element) must PASS the guard: the composed when(norm > 0, ...)
    // this kernel replaced compares with Spark SQL's
    // nanSafeCompareDoubles, where NaN is GREATER than every double
    // (DuckDB orders NaN greatest too) — so the old form emitted the
    // all-NaN unit, and Java's `NaN > 0 == false` would silently
    // diverge from it. norm is sqrt(Σx²): ≥ 0 or NaN, never negative,
    // so `== 0.0` is the exact complement of the Spark-semantics guard.
    if (norm == 0.0) return InternalRow(norm, null)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = num.at(xs, i) / norm
      i += 1
    }
    InternalRow(norm, new GenericArrayData(out))
  }

  // unit elements are in fact never null (a null element nulls the
  // whole struct), but containsNull stays TRUE to match the
  // ArrayTransform-composed form this kernel replaced — written
  // Parquet element nullability (optional vs required) is part of the
  // output schema downstream artifact comparisons pin against.
  def normalize(vec: Column): Column =
    ColumnBridge.invoke(this, "compute", StructType(Seq(
      StructField("norm", DoubleType, nullable = true),
      StructField("unit", ArrayType(DoubleType, containsNull = true),
        nullable = true))),
      Kernel.typed(vec))
}
