package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * The MinHash near-dup kernels, one row at a time: a shingle array's
 * k-wide signature, the signature's LSH band keys, and the exact Jaccard
 * of two shingle arrays. Each reproduces the Spark-builtin form it
 * replaced bit for bit (pinned in NearDupKernelsSpec, which keeps those
 * forms as reference models):
 *  - `signature`: element i = min over shingles s of
 *    `xxhash64(s, lit(i))`, i.e. `XXH64.hashInt(i, XXH64(bytes(s), 42))`
 *    — each shingle's bytes are hashed once, not k times; a null shingle
 *    hashes as `hashInt(i, 42)` (xxhash64 skips null inputs); an empty
 *    array gives k × Long.MaxValue (the old fold's start value);
 *  - `bandKeys`: element b = `xxhash64(concat_ws(",", slice(sig, b·r+1,
 *    r)), lit(b))` with r = k / bands — the band's longs in decimal,
 *    comma-joined, null elements skipped as concat_ws skips them; read
 *    with `posexplode`, whose position is the band;
 *  - `jaccard`: |A∩B| / |A∪B| over distinct elements, as
 *    `size(array_intersect) / size(array_union)`: a null element counts
 *    as one value, and two empty arrays give 0.0. One hash table keyed
 *    by A's elements, marked when B hits them: its size is |A∪B| and the
 *    first-time marks count |A∩B|.
 * A null array argument gives a null result.
 */
object MinHash {

  /** The seed Spark's `xxhash64` starts from. */
  private val Seed = 42L

  /** Column face: the k-wide MinHash signature of a shingle array. */
  def signature(shingles: Column, k: Int): Column = {
    require(k >= 1, s"signature width must be >= 1, got $k")
    ColumnBridge.invoke(this, "signatureOf", ArrayType(LongType, containsNull = false),
      Seq(shingles -> Kernel.strings), Seq(Literal(k)))
  }

  /** Column face: one LSH bucket key per band of a k-wide signature. */
  def bandKeys(signature: Column, k: Int, bands: Int): Column = {
    require(bands >= 1, s"bands must be >= 1, got $bands")
    ColumnBridge.invoke(this, "bandKeysOf", ArrayType(LongType, containsNull = false),
      Seq(signature -> Kernel.longs), Seq(Literal(k / bands), Literal(bands)))
  }

  /** Column face: exact Jaccard similarity of two string arrays. */
  def jaccard(a: Column, b: Column): Column =
    ColumnBridge.invoke(this, "jaccardOf", DoubleType,
      Seq(a -> Kernel.strings, b -> Kernel.strings))

  /** The signature kernel. */
  def signatureOf(shingles: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val h0 =
        if (shingles.isNullAt(j)) Seed
        else XXH64.hashUTF8String(shingles.getUTF8String(j), Seed)
      var i = 0
      while (i < k) {
        val h = XXH64.hashInt(i, h0)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** The band-key kernel; `r` is the band width. */
  def bandKeysOf(sig: ArrayData, r: Int, bands: Int): ArrayData = {
    val n = sig.numElements()
    val keys = new Array[Long](bands)
    val band = new java.lang.StringBuilder
    var b = 0
    while (b < bands) {
      band.setLength(0)
      var i = b * r
      val until = math.min(i + r, n)
      while (i < until) {
        if (!sig.isNullAt(i)) {
          if (band.length > 0) band.append(',')
          band.append(sig.getLong(i))
        }
        i += 1
      }
      keys(b) = XXH64.hashInt(b, XXH64.hashUTF8String(UTF8String.fromString(band.toString), Seed))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(keys)
  }

  /** The Jaccard kernel. */
  def jaccardOf(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val hitInB = new java.util.HashMap[UTF8String, java.lang.Boolean](math.max(16, na * 2))
    var i = 0
    while (i < na) {
      hitInB.put(if (a.isNullAt(i)) null else a.getUTF8String(i), java.lang.Boolean.FALSE)
      i += 1
    }
    var inter = 0
    i = 0
    while (i < nb) {
      val was = hitInB.put(if (b.isNullAt(i)) null else b.getUTF8String(i), java.lang.Boolean.TRUE)
      if (was eq java.lang.Boolean.FALSE) inter += 1
      i += 1
    }
    val union = hitInB.size
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
