package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.util.sketch.BloomFilter

/**
 * Count of string-array elements that MIGHT belong to a Bloom filter —
 * CountInSet's sketch-backed sibling for probe sets too large to ship
 * as an exact hash set (the decontamination `bloom` strategy: ~12 bits
 * per element at 1% FPR vs the exact set's full string payload).
 *
 * Count semantics are one-sided, inherited from the sketch: no false
 * NEGATIVES (an element in the builder's set always counts), so
 * `count == 0` proves NO element belongs — the property the bloom
 * prefilter is built on. A nonzero count may be inflated by false
 * positives and is a candidate signal, never an exact overlap.
 *
 * Null contract mirrors CountInSet (CountInBloomSpec pins both): null
 * array → null; null elements don't count; exact binary UTF8 equality
 * (the filter hashes the UTF-8 bytes both at build and probe time).
 *
 * The filter ships in the task closure like CountInSet's set — at 1%
 * FPR a 2M-gram benchmark is ~3 MB, far below the point where a
 * Broadcast handle would matter; it is one constant argument per plan.
 */
object CountInBloom {

  /** Column face: how many elements of `tokens` MIGHT be in `bloom`. */
  def count(tokens: Column, bloom: BloomFilter): Column =
    ColumnBridge.invoke(this, "compute", IntegerType,
      Seq(tokens -> Kernel.strings), Seq(Kernel.obj(bloom, classOf[BloomFilter])))

  /** The kernel. */
  def compute(xs: ArrayData, bloom: BloomFilter): Int = {
    val n = xs.numElements()
    var count = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) &&
        bloom.mightContainBinary(xs.getUTF8String(i).getBytes)) count += 1
      i += 1
    }
    count
  }
}
