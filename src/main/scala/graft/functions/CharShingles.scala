package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Distinct character n-gram shingles of a string in one compiled pass —
 * replacing Dedup.shingles's interpreted transform over an index
 * sequence (one interpreted substr per character position per row).
 *
 * Exact-semantics contract with the HOF form (pinned in
 * WordShinglesSpec over the real documents fixture):
 *  - shingle at 1-based char position i = substr(i, n), for
 *    i in 1..max(numChars-(n-1), 1) — the final partial window of an
 *    n-1-char-short text appears as substr's natural clamp, and an
 *    EMPTY string yields [""] (one substr over nothing);
 *  - substr counts CHARACTERS (UTF8String.substringSQL), not bytes —
 *    CJK text shingles identically to the builtin;
 *  - distinct keeps first-occurrence order (array_distinct);
 *  - null string → [null], a single-null-element array, NOT a null
 *    array: the HOF's sequence bound is greatest(length(null)-(n-1), 1)
 *    and greatest SKIPS nulls, so one substr(null) element survives
 *    (measured — WordShinglesSpec pins it).
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
    val chars = s.numChars()
    val positions = math.max(chars - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 1
    while (i <= positions) {
      seen.add(s.substringSQL(i, n))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
