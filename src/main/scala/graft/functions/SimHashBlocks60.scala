package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * SimHash fingerprint (4×15-bit blocks) of a token array in one compiled
 * pass — replacing Dedup.simhashBlocks's HOF tower (transform →
 * aggregate with a 60-wide zip_with per TOKEN: ~60 interpreted
 * when/bitwiseAND nodes per token per row).
 *
 * Exact-semantics contract with the HOF form (pinned in
 * SimHashBlocks60Spec, side-by-side over the real documents fixture):
 *  - token hash = conv(substr(md5(token),1,15),16,10) — here computed as
 *    the high 60 bits of the MD5 digest (first 15 hex digits ==
 *    first-8-bytes-big-endian >>> 4), bit-identical;
 *  - per bit b: vote += (hash bit b set ? +1 : -1), tokens in array
 *    order; block i = Σ_j (votes(15i+j) > 0 ? 1<<j : 0);
 *  - null token array → an array of 4 NULL blocks, never a null array
 *    (the HOF's outer transform runs over a literal 0..3 sequence, so it
 *    always yields 4 elements — measured in tools/HofProbe @0fcdae9);
 *  - a null ELEMENT votes -1 on every bit (bitwiseAND(null) is null,
 *    the when falls through to otherwise(-1)).
 *
 * `hamming` is the Hamming distance of two block arrays, the value of
 * the HOF form `aggregate(zip_with(a, b, (x, y) => bit_count(x ^ y)),
 * 0L, _ + _)` (pinned in SimHashBlocks60Spec): the popcount of each
 * position's XOR, summed; a null array, a null element on either side,
 * or arrays of different lengths (zip_with pads the shorter with nulls)
 * give null; two empty arrays give 0.
 */
object SimHashBlocks60 {

  /** Column face over a token array. */
  def blocks(tokens: Column): Column =
    ColumnBridge.invoke(this, "compute", ArrayType(LongType, containsNull = true),
      Seq(tokens -> Kernel.strings), propagateNull = false, returnNullable = false)

  /** Column face: the Hamming distance of two block arrays. */
  def hamming(a: Column, b: Column): Column =
    ColumnBridge.invoke(this, "hammingOf", LongType,
      Seq(a -> Kernel.longs, b -> Kernel.longs))

  /** The Hamming kernel. */
  def hammingOf(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var d = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      d += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    d
  }

  /** The null-text result: 4 null blocks (see the object doc). */
  private val fourNulls: ArrayData = new GenericArrayData(new Array[Any](4))

  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** High 60 bits of md5(token): first 15 hex digits of the digest ==
    * (first 8 bytes big-endian) >>> 4 — identical to
    * conv(substr(md5(t),1,15),16,10). */
  private def hash60(t: UTF8String): Long = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(t.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** The kernel: vote + block packing; a null array gives 4 null blocks. */
  def compute(xs: ArrayData): ArrayData = {
    if (xs == null) return fourNulls
    val n = xs.numElements()
    val votes = new Array[Long](60)
    var i = 0
    while (i < n) {
      if (xs.isNullAt(i)) {
        var b = 0
        while (b < 60) { votes(b) -= 1; b += 1 }
      } else {
        val h = hash60(xs.getUTF8String(i))
        var b = 0
        while (b < 60) {
          votes(b) += (if (((h >>> b) & 1L) != 0L) 1L else -1L)
          b += 1
        }
      }
      i += 1
    }
    val blocks = new Array[Any](4)
    var blk = 0
    while (blk < 4) {
      var acc = 0L
      var j = 0
      while (j < 15) {
        if (votes(blk * 15 + j) > 0) acc |= (1L << j)
        j += 1
      }
      blocks(blk) = acc
      blk += 1
    }
    new GenericArrayData(blocks)
  }
}
