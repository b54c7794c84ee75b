package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Distinct character n-gram shingles of a string in one linear pass:
 * the character start offsets are found once ([[Kernel.charStarts]]) and
 * each window is one byte copy. (A `substringSQL` per position walks the
 * string from byte 0 every time: O(L²) per document.)
 *
 * Contract, the same as the HOF form it replaced (kept in and pinned by
 * WordShinglesSpec over the documents fixture) and the per-position
 * `substringSQL` loop (pinned in NearDupKernelsSpec over generated
 * unicode):
 *  - shingle at 1-based char position i = substr(i, n), for
 *    i in 1..max(numChars-(n-1), 1) — a text shorter than n is one
 *    whole-text shingle, and an EMPTY string yields [""];
 *  - positions count CHARACTERS, not bytes — CJK and 4-byte characters
 *    shingle as the builtin substr cuts them;
 *  - distinct keeps first-occurrence order (array_distinct);
 *  - null string → [null], a single-null-element array, NOT a null
 *    array: the HOF's sequence bound is greatest(length(null)-(n-1), 1)
 *    and greatest SKIPS nulls, so one substr(null) element survives.
 */
object CharShingles {

  /** Column face. */
  def shingles(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    ColumnBridge.invoke(this, "compute", ArrayType(StringType, containsNull = true),
      Seq(text -> Kernel.string), Seq(Literal(n)),
      propagateNull = false, returnNullable = false)
  }

  /** Null-text result: one null element (see the object doc). */
  private val oneNull: ArrayData = new GenericArrayData(Array[Any](null))

  /** The kernel; null text gives `[null]`. */
  def compute(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return oneNull
    val at = Kernel.charStarts(s)
    val chars = at.length - 1
    val positions = math.max(chars - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i < positions) {
      seen.add(Kernel.chars(s, at, i, i + math.min(n, chars - i)))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
