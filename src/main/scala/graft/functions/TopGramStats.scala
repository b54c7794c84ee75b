package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-document word n-gram repetition statistics in one compiled pass —
 * the kernel behind the Gopher-rules repetition signals ("fraction of
 * characters in the most frequent n-gram", "fraction of n-grams that
 * are duplicates"). A per-row hash-count over the token array: no
 * explode, no shuffle, the whole corpus stays a narrow map.
 *
 * Gram positions mirror WordShingles' contract (same window join-with-
 * one-space, nulls skipped concat_ws-style, max(|toks|-n+1, 1)
 * positions so short token lists collapse to one whole-list gram) —
 * but counted NON-distinct: every position contributes.
 *
 * Output struct:
 *  - top_count: occurrences of the most frequent gram;
 *  - top_gram: that gram — ties break to the binary-smallest gram, so
 *    the result is engine-reproducible (DuckDB's default VARCHAR order
 *    is the same binary compare for the ASCII grams the normalizer
 *    emits);
 *  - n_positions: total gram positions;
 *  - dup_positions: positions whose gram occurs more than once.
 * Empty token array → (0, "", 0, 0); null array → null.
 */
object TopGramStats {

  /** Column face over a token array; result is the stats struct. */
  def stats(tokens: Column, n: Int): Column = {
    require(n >= 1, s"gram width must be >= 1, got $n")
    ColumnBridge.invoke(this, "compute", StructType(Seq(
      StructField("top_count", IntegerType, nullable = false),
      StructField("top_gram", StringType, nullable = false),
      StructField("n_positions", IntegerType, nullable = false),
      StructField("dup_positions", IntegerType, nullable = false))),
      Seq(tokens -> Kernel.strings), Seq(Literal(n)))
  }

  private val SPACE = UTF8String.fromString(" ")
  private val EMPTY = UTF8String.fromString("")

  /** The kernel: one counting pass. */
  def compute(xs: ArrayData, n: Int): InternalRow = {
    val size = xs.numElements()
    if (size == 0)
      return new GenericInternalRow(Array[Any](0, EMPTY, 0, 0))
    val positions = math.max(size - (n - 1), 1)
    val counts = new java.util.HashMap[UTF8String, Int](positions * 2)
    var i = 0
    while (i < positions) {
      val end = math.min(i + n, size)
      var parts: List[UTF8String] = Nil
      var j = end - 1
      while (j >= i) {
        if (!xs.isNullAt(j)) parts = xs.getUTF8String(j) :: parts
        j -= 1
      }
      val gram = UTF8String.concatWs(SPACE, parts: _*)
      counts.merge(gram, 1, (a, b) => a + b)
      i += 1
    }
    var topGram: UTF8String = null
    var topCount = 0
    var dup = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c > 1) dup += c
      if (c > topCount ||
          (c == topCount && e.getKey.compareTo(topGram) < 0)) {
        topCount = c
        topGram = e.getKey
      }
    }
    new GenericInternalRow(Array[Any](topCount, topGram, positions, dup))
  }
}
