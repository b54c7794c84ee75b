package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Count of string-array elements that belong to a LITERAL set — the
 * compiled replacement for `size(filter(toks, t => t.isin(set: _*)))`
 * in stopword-ratio and language-ID marker voting (ArrayFilter is
 * CodegenFallback: interpreted per element per lexicon; this is one
 * compiled loop with an O(1) hash-set probe).
 *
 * Semantics contract with the HOF form (pinned in CountInSetSpec):
 *  - null array → null (size(null) is null under default sizeOfNull);
 *  - null ELEMENTS don't count (isin(null) is null, filter drops it);
 *  - comparison is exact binary UTF8 equality, same as isin.
 */
object CountInSet {

  /** Column face: how many elements of `tokens` are in `set`. */
  def count(tokens: Column, set: Seq[String]): Column = {
    require(set.nonEmpty, "CountInSet needs a non-empty set")
    ColumnBridge.invoke(this, "compute", IntegerType, Seq(tokens -> Kernel.strings),
      Seq(Kernel.obj(new Kernel.ProbeSet(set.map(UTF8String.fromString)),
        classOf[java.util.HashSet[UTF8String]])))
  }

  /** The kernel. */
  def compute(xs: ArrayData, probe: java.util.HashSet[UTF8String]): Int = {
    val n = xs.numElements()
    var count = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i) && probe.contains(xs.getUTF8String(i))) count += 1
      i += 1
    }
    count
  }
}
