package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Word n-gram shingles of a token array in one compiled pass —
 * replacing Dedup.wordShingles's n-1 interpreted zip_with passes (each
 * concat_ws per position per pass). Two modes: `distinct` (default —
 * the dedup/jaccard posting-list need) and positional (`shinglesAll`,
 * duplicates kept in order — the counting need of topGrams).
 *
 * Exact-semantics contract with the HOF form (pinned in
 * WordShinglesSpec over the real documents fixture):
 *  - shingle i = tokens i..i+n-1 joined with one space; the trailing
 *    partial shingles are dropped, keeping max(|toks|-n+1, 1) positions
 *    (short token lists collapse to one whole-list shingle — concat_ws
 *    SKIPS the nulls zip_with pads with);
 *  - null elements inside a shingle window are skipped, concat_ws-style;
 *  - distinct keeps FIRST-occurrence order (array_distinct semantics);
 *  - null token array → null.
 */
object WordShingles {

  /** Column face over a token array (distinct shingles — dedup's need). */
  def shingles(tokens: Column, n: Int): Column = face("compute", tokens, n)

  /** Every shingle POSITION with duplicates, in order — the counting
    * face (topGrams): same window/concat_ws rules, no distinct pass. */
  def shinglesAll(tokens: Column, n: Int): Column = face("computeAll", tokens, n)

  private def face(kernel: String, tokens: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    ColumnBridge.invoke(this, kernel, ArrayType(StringType, containsNull = false),
      Seq(tokens -> Kernel.strings), Seq(Literal(n)))
  }

  private val SPACE = UTF8String.fromString(" ")

  /** The distinct kernel. */
  def compute(xs: ArrayData, n: Int): ArrayData = {
    val size = xs.numElements()
    // HOF parity: slice of an EMPTY grown array is empty (split never
    // produces an empty array, but arbitrary callers can)
    if (size == 0) return new GenericArrayData(new Array[Any](0))
    val positions = math.max(size - (n - 1), 1)
    // LinkedHashSet: distinct with first-occurrence order, like
    // array_distinct
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < positions) {
      val end = math.min(i + n, size)
      // concat_ws over the window, skipping nulls
      var parts: List[UTF8String] = Nil
      var j = end - 1
      while (j >= i) {
        if (!xs.isNullAt(j)) parts = xs.getUTF8String(j) :: parts
        j -= 1
      }
      seen.add(UTF8String.concatWs(SPACE, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** The positional kernel — every position, duplicates kept,
    * same window/concat_ws/short-list rules as [[compute]]. */
  def computeAll(xs: ArrayData, n: Int): ArrayData = {
    val size = xs.numElements()
    if (size == 0) return new GenericArrayData(new Array[Any](0))
    val positions = math.max(size - (n - 1), 1)
    val out = new Array[Any](positions)
    var i = 0
    while (i < positions) {
      val end = math.min(i + n, size)
      var parts: List[UTF8String] = Nil
      var j = end - 1
      while (j >= i) {
        if (!xs.isNullAt(j)) parts = xs.getUTF8String(j) :: parts
        j -= 1
      }
      out(i) = UTF8String.concatWs(SPACE, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}
