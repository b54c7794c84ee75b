package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DoubleType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Shannon entropy of a string's UTF-8 BYTES, in bits per byte — the
 * compression-proxy quality signal in the Gopher/CCNet tradition
 * (natural prose sits ~4.0-4.5; base64/hex blobs, repeated padding, and
 * binary spill score far off that band and mark non-text rows). One
 * compiled per-row pass: a 256-bin histogram + one fixed-order fold, no
 * explode, no shuffle — the same narrow-map discipline as TopGramStats.
 *
 * Contract (pinned in CharEntropySpec):
 *  - null → null; empty string → 0.0;
 *  - BYTE entropy, not codepoint entropy: multi-byte UTF-8 characters
 *    contribute each byte (deliberate — the signal approximates
 *    compressibility of the stored bytes, and the rule needs no
 *    decoder); ASCII text's byte and character entropies coincide,
 *    which is what an engine-independent oracle replays;
 *  - the fold runs over bins 0..255 in order, so the double result is
 *    deterministic for a given string on this engine; cross-engine
 *    replay agrees to float round-off (gate rounds to 6).
 */
object CharEntropy {

  /** The kernel: byte entropy of `s`, in bits per byte. */
  def entropyOf(s: UTF8String): Double = {
    val bs = s.getBytes
    val n = bs.length
    if (n == 0) return 0.0
    val hist = new Array[Int](256)
    var i = 0
    while (i < n) { hist(bs(i) & 0xFF) += 1; i += 1 }
    val ln2 = math.log(2.0)
    var h = 0.0
    var b = 0
    while (b < 256) {
      val c = hist(b)
      if (c > 0) {
        val p = c.toDouble / n
        h -= p * (math.log(p) / ln2)
      }
      b += 1
    }
    h
  }

  def entropy(text: Column): Column =
    ColumnBridge.invoke(this, "entropyOf", DoubleType, Seq(text -> Kernel.string))
}
