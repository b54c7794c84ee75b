package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Symmetric per-vector int8 quantization in ONE compiled pass —
 * struct(scale = max|v|/127, q = round(v_i/scale) bytes) — the kernel
 * of Similarity.quantizeVectorsInt8, replacing two interpreted HOF
 * passes (an aggregate fold for max|v| and a transform for the bytes;
 * ArrayAggregate/ArrayTransform are CodegenFallback — one evaluator
 * dispatch per element per pass). Quantization is the operator billed
 * as the 100 TB storage lever, so its per-element cost is the bill.
 *
 * Exact-semantics contract with the HOF form it replaced (pinned in
 * CurationOpsSpec + QuantizeInt8Spec equivalence):
 *  - NULL elements are ignored for the scale and stay NULL in `q`
 *    when scale > 0; a scale-0 vector (see next bullet) quantizes
 *    every position, null included, to 0;
 *  - an all-zero (or all-null) vector has scale 0 and quantizes every
 *    position to 0 — nothing to scale;
 *  - rounding is Math.round on the double quotient = HALF_UP for the
 *    positive-scale quotients this produces, matching the Column
 *    round() and DuckDB's round;
 *  - corrupt elements (NaN, ±Infinity) surface as NaN QUOTIENTS: a
 *    NaN element pins the scale to NaN (greatest() folds with Spark's
 *    NaN-as-largest semantics, replayed here) making every quotient
 *    NaN; an Inf element makes the scale Inf and its own quotient
 *    Inf/Inf = NaN (finite siblings quantize to 0, like the composed
 *    round(x/Inf)). Every NaN-quotient position becomes NULL. This is
 *    a DELIBERATE divergence from the composed form, which under ANSI
 *    mode (Spark 4's default) THROWS CAST_OVERFLOW casting a NaN
 *    quotient to byte — one corrupt embedding must not kill a
 *    corpus-wide quantization pass, so the kernel yields the try_cast
 *    value (NULL) at those positions instead. Both faces are
 *    spec-pinned for NaN and Infinity: the kernel's output explicitly,
 *    and the composed form's throw as the divergence record;
 *  - NULL vector → NULL struct. Accepts any numeric element type
 *    (cast-to-double per element, ArrayDot's discipline).
 */
object QuantizeInt8 {

  /** The kernel (`vecType` is the column's `typeof()` name): one pass
    * for the max-abs scale, one for the bytes — no per-element dispatch. */
  def compute(xs: ArrayData, vecType: UTF8String): InternalRow = {
    val num = Kernel.elements(vecType)
    val n = xs.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val a = math.abs(num.at(xs, i))
        // greatest() folds under Spark's nanSafeCompare, where NaN is
        // the LARGEST value — one NaN element pins the fold to NaN
        // (Java's bare `a > maxAbs` would silently skip it instead)
        if (java.lang.Double.isNaN(a) || a > maxAbs) maxAbs = a
      }
      i += 1
    }
    val scale = maxAbs / 127.0
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      if (scale == 0.0) out(i) = 0.toByte
      else if (xs.isNullAt(i)) out(i) = null
      else {
        val q = num.at(xs, i) / scale
        // a NaN QUOTIENT is the corrupt-element signal in one test:
        // scale NaN (a NaN element poisoned the fold — every position),
        // or the element itself is ±Inf (Inf/Inf). The composed ANSI
        // form THROWS casting it; this kernel emits try_cast's NULL for
        // exactly those positions. Finite elements under an Inf scale
        // quantize to 0 like the composed round(x/Inf) would.
        if (java.lang.Double.isNaN(q)) out(i) = null
        else {
          // HALF_UP = ties away from zero (Column round / DuckDB round);
          // Math.round alone rounds -2.5 toward positive infinity
          val r = if (q < 0) -math.round(-q) else math.round(q)
          out(i) = r.toByte
        }
      }
      i += 1
    }
    InternalRow(scale, new GenericArrayData(out))
  }

  def quantize(vec: Column): Column =
    ColumnBridge.invoke(this, "compute", StructType(Seq(
      StructField("scale", DoubleType, nullable = false),
      StructField("q", ArrayType(ByteType, containsNull = true), nullable = false))),
      Kernel.typed(vec))
}
