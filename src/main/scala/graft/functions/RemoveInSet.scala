package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * String-array elements NOT in a LITERAL set, order and duplicate
 * occurrences preserved — CountInSet's rewriting sibling, and the
 * kernel of line_dedup's strategy=set narrow rewrite: with the hot
 * boilerplate lines collected once, stripping them from a document
 * becomes `array_join(remove_in_set(split(text, '\n')), '\n')` — one
 * compiled projection, no explode, no regroup exchange, no join-back.
 *
 * Not `array_except` (which sorts-and-DEDUPS the left side — a
 * document's repeated prose lines must survive as repeats, in place)
 * and not `filter(arr, x => !x.isin(...))` (ArrayFilter is
 * CodegenFallback: an interpreted per-element dispatch, and isin is a
 * linear scan per element vs this one O(1) hash probe).
 *
 * Contract (pinned in CurationOpsSpec):
 *  - null array → null;
 *  - null ELEMENTS are kept (removal needs an exact match; the set
 *    holds no nulls) — note CountInSet conversely ignores them;
 *  - comparison is exact binary UTF8 equality, same as isin.
 */
object RemoveInSet {

  /** The kernel. */
  def compute(xs: ArrayData, probe: java.util.HashSet[UTF8String]): ArrayData = {
    val n = xs.numElements()
    val out = new java.util.ArrayList[Any](n)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) out.add(null)
      else {
        val s = xs.getUTF8String(i)
        if (!probe.contains(s)) out.add(s)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Column face: `arr` with every element that is in `set` removed. */
  def remove(arr: Column, set: Seq[String]): Column = {
    require(set.nonEmpty, "RemoveInSet needs a non-empty set")
    ColumnBridge.invoke(this, "compute", ArrayType(StringType, containsNull = true),
      Seq(arr -> Kernel.strings),
      Seq(Kernel.obj(new Kernel.ProbeSet(set.map(UTF8String.fromString)),
        classOf[java.util.HashSet[UTF8String]])))
  }
}
